"""Output checks: a query op's rows against its registry oracle.

Both sides are normalised the way the project's driver-contract check
does it (columns sorted by name, floats rounded to 6 places, timestamps
as naive ISO strings, rows sorted) and reduced to a digest. Oracle
digests are computed by DuckDB once per input identity and cached in a
JSON file, since the DuckDB side of some queries costs seconds. The
benchmark computes missing digests in a child process, so DuckDB's
memory and CPU never count toward the measured process:

    python3 perfbench/oracle.py DATA_DIR CACHE_JSON QUERY_NAME...
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(cols: list[str], rows) -> dict:
    """Order-independent digest of a result: sorted column names, row
    count and a hash of the normalised, sorted rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), x) for x in t),
    )
    return {
        "cols": sorted(cols),
        "rows": len(norm),
        "sha256": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


def cache_key(name: str, sql: str) -> str:
    return f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"


def load(cache_path: str) -> dict:
    try:
        with open(cache_path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def compute(data_dir: str, cache_path: str, names: list[str]) -> None:
    """Run the named queries' oracles with DuckDB over the parquet
    tables in ``data_dir`` and add their digests to the cache."""
    import duckdb

    from demy_spark.queries import REGISTRY

    cache = load(cache_path)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            sql = REGISTRY[name].oracle
            res = con.execute(sql)
            cache[cache_key(name, sql)] = digest([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    tmp = f"{cache_path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    compute(sys.argv[1], sys.argv[2], sys.argv[3:])
