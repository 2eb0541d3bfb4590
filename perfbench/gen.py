"""Deterministic input tables for the benchmark.

Writes tables of the star schema demy_spark's registry reads
(``io.TABLES``) as one single-row-group parquet file per table, with the
column names, physical types and value domains of the project's test
fixtures: TPC-H-shaped ``supplier``/``orders``/``lineitem``, an
``events`` stream and a ``documents`` corpus over the 30-word
vocabulary the registry's frozen search queries are written against.
Only the tables a workload reads are generated; ``customer`` and
``part`` exist only as key ranges. Sizes scale with ``sf`` the way the
fixtures do (lineitem = 6M x sf rows).

The tables depend only on ``(sf, DATA_SEED)``: every run of a workload
reads the same inputs, and the run seed decides only the order of the
work and how events are sliced into batches (see ``run.py``).
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated content changes: it is part of the cached
# oracle digests' key
GEN_VERSION = 3

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # integer cents / 100: each value is the double nearest its decimal
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.03:
            # near duplicate: an earlier document with a few tokens
            # replaced, so minhash banding finds candidate pairs
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = "dup"
            texts.append(" ".join(toks))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def build(sf: float, names: list[str]) -> dict[str, pa.Table]:
    """The tables in ``names`` at scale factor ``sf``. Each table draws
    from its own seeded stream, so a table's content does not depend on
    which other tables are built with it."""
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    for name in names:
        r = np.random.default_rng([DATA_SEED, GEN_VERSION, zlib.crc32(name.encode())])
        k = n[name]
        if name == "supplier":
            t = pa.table(
                {
                    "s_suppkey": pa.array(np.arange(k), pa.int64()),
                    "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                    "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                    "s_acctbal": _money(r, -999.99, 9999.99, k),
                }
            )
        elif name == "orders":
            t = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(k), pa.int64()),
                    "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
                    "o_orderstatus": _pick(r, ["F", "O", "P"], k),
                    "o_totalprice": _money(r, 1000, 500_000, k),
                    "o_orderdate": _days(r, dt.date(1995, 1, 1), 2404, k),
                    "o_orderpriority": _pick(r, PRIORITIES, k),
                }
            )
        elif name == "lineitem":
            t = pa.table(
                {
                    "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
                    "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
                    "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
                    "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
                    "l_quantity": r.integers(1, 51, k).astype(np.float64),
                    "l_extendedprice": _money(r, 900, 105_000, k),
                    "l_discount": r.integers(0, 11, k) / 100,
                    "l_tax": r.integers(0, 9, k) / 100,
                    "l_returnflag": _pick(r, ["A", "N", "R"], k),
                    "l_linestatus": _pick(r, ["F", "O"], k),
                    "l_shipdate": _days(r, dt.date(1995, 1, 2), 2499, k),
                }
            )
        elif name == "events":
            start = np.datetime64("2024-01-01T00:00:00", "us")
            offs = np.sort(r.integers(0, 30 * 86_400 * 10**6, k)).astype("timedelta64[us]")
            t = pa.table(
                {
                    "event_id": pa.array(np.arange(k), pa.int64()),
                    "ts": pa.array(start + offs, pa.timestamp("us")),
                    "user_id": pa.array(r.integers(0, max(10, round(15_000 * sf)), k), pa.int64()),
                    "event_type": _pick(r, EVENT_TYPES, k),
                    "value": np.round(r.exponential(50.0, k) * 100) / 100,
                    "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
                }
            )
        elif name == "documents":
            t = _documents(r, k)
        else:
            raise ValueError(f"no generator for table {name!r}")
        out[name] = t
    return out


def write(sf: float, names: list[str], out_dir: str) -> None:
    """Write the tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
