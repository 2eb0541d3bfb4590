"""Differential tests: every oracle-backed query in the registry must
match DuckDB on the same parquet tables — the same check the driver
runs at sf0.01 (here at sf0.001 for speed).
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

from demy_spark import queries as Q
from demy_spark.session import owned

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6) + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        (tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False)),
        key=repr,
    )


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


ORACLE_QUERIES = sorted(n for n, q in Q.REGISTRY.items() if q.oracle)


def assert_query_parity(name: str, spark, data_dir: str, con) -> None:
    """THE engine-vs-oracle comparison — one rule for every suite
    (fixture parity, the degenerate fuzzes, multi-split, empty
    tables): sorted columns, normalized values (_rows), sorted rows,
    first mismatches shown."""
    q = Q.REGISTRY[name]
    spark_pdf = q.fn(spark, data_dir).toPandas()
    duck_pdf = con.execute(q.oracle).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} "
        f"vs {sorted(duck_pdf.columns)}"
    )
    s_rows, d_rows = _rows(spark_pdf), _rows(duck_pdf)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def oracle_query_tables(name: str) -> frozenset:
    """The catalog tables a query ACTUALLY touches, from both sides
    (ADVICE r7: enrollment must reflect real inputs, not substring
    luck): \\b-matches over the oracle SQL with single-quoted string
    literals stripped first (a BM25 keyword literal like
    'customer order line part' is data, not a table reference), plus
    quoted / ``.parquet`` references in the engine fn's source —
    catalog access is always ``t["orders"]`` or a parquet basename,
    so docstring English ("part of") cannot mis-fire."""
    import inspect
    import re as _re

    q = Q.REGISTRY[name]
    # lexer-accurate span masking (comments AND literals — a bare
    # regex misreads an apostrophe inside a comment as opening a
    # literal and swallows real table references; r8 review, shared
    # with the gate rewriter)
    sql, _spans = Q.mask_sql_spans(q.oracle or "")
    # scan the fn BODY only: inspect.getsource includes the @register
    # decorator, whose SQL argument would otherwise be re-scanned
    # UN-stripped by the quoted-name regex — a future oracle literal
    # like WHERE source = 'events' would falsely enroll (r8 review)
    src = inspect.getsource(q.fn)
    src = src[_re.search(r"^def ", src, _re.MULTILINE).start() :]
    return frozenset(
        t
        for t in TABLES
        if _re.search(rf"\b{t}\b", sql)
        or _re.search(rf"""["']{t}["']|\b{t}\.parquet\b""", src)
    )


def oracle_queries_touching_only(table: str, exclude: dict) -> list[str]:
    """Registry names that read ONLY ``table`` (the single-table fuzz
    modules' auto-discovery — new queries join their suite by
    construction). Built on ``oracle_query_tables``, so a query whose
    oracle merely carries another table's name inside a string
    literal still enrolls here, and one whose ENGINE fn reads extra
    tables does not."""
    return sorted(
        name
        for name, q in Q.REGISTRY.items()
        if q.oracle
        and name not in exclude
        and oracle_query_tables(name) == frozenset([table])
    )


def multi_table_oracle_queries(exclude: dict) -> dict:
    """name -> sorted table list for every oracle-backed query
    touching TWO OR MORE tables — the multi-table degenerate fuzz's
    auto-discovery (VERDICT r7 task 2: q138's zero-norm bug escaped
    both single-table suites precisely because its oracle touches
    documents AND embeddings)."""
    out = {}
    for name, q in Q.REGISTRY.items():
        if not q.oracle or name in exclude:
            continue
        ts = oracle_query_tables(name)
        if len(ts) >= 2:
            out[name] = sorted(ts)
    return out


# the few parity cases that each cost >25 s even at sf0.001 (measured
# r14 full-suite durations: q69 67 s, q46 33 s, q66 29 s — hierarchy
# and POS-tag replays are driver-iterative) ride the slow lane; every
# other registry query stays in the default lane's full parity sweep
SLOW_PARITY = {"q69_center_hierarchy", "q46_pos_tag", "q66_pos_tag_greedy"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=[pytest.mark.slow] if n in SLOW_PARITY else [])
        for n in ORACLE_QUERIES
    ],
)
def test_oracle_parity(name, spark, sf_dir, ddb):
    """Oracle parity, and the leak gate: run with its final action
    inside ``session.owned``, a query leaves the session conf and the
    SparkContext checkpoint dir as it found them (an AQE hold must be
    released, a directory never set), the CacheManager as it found
    it, and every RDD it leaves persisted is a checkpoint RDD
    (``localCheckpoint`` blocks, which the ContextCleaner frees)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    conf = spark.conf.getAll
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    entries = cache.cachedData().size()
    held = set(jsc.getPersistentRDDs().keySet().toArray())
    with owned():
        assert_query_parity(name, spark, sf_dir, ddb)
    after = spark.conf.getAll
    drift = sorted(k for k in conf.keys() | after.keys() if conf.get(k) != after.get(k))
    assert not drift, f"{name}: changed session conf {drift}"
    assert spark.sparkContext.getCheckpointDir() == ckpt_dir, f"{name}: moved the checkpoint dir"
    assert cache.cachedData().size() == entries, f"{name}: left a cached plan"
    left = {
        rdd_id: rdd.rdd()
        for rdd_id, rdd in jsc.getPersistentRDDs().items()
        if rdd_id not in held
    }
    assert all(rdd.isLocallyCheckpointed() for rdd in left.values()), (
        f"{name}: left persisted RDDs {[rdd.toDebugString() for rdd in left.values()]}"
    )


ROWS_ONLY_QUERIES = sorted(n for n, q in Q.REGISTRY.items() if not q.oracle)


def test_rows_only_runs(spark, sf_dir):
    """Weaker rows-only check for any query without an oracle. The
    registry currently has none (test_every_query_is_oracle_backed
    pins that), so this is a no-op loop rather than an empty
    parametrize — the latter reports as a SKIP and muddies the
    0-unexplained-skips bar (VERDICT r5 task 7)."""
    for name in ROWS_ONLY_QUERIES:
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


# --- degenerate-document parity (ADVICE r6: q133 zero-token floor,
# q136 NULL-text cuts). The sf fixtures carry no empty/NULL text, so
# these latent divergences need their own fixture: both engines must
# agree on empty, whitespace-only, NULL and 1-token documents.
DEGENERATE_DOC_QUERIES = ["q133_c4_filters", "q136_fim_split"]


@pytest.fixture(scope="module")
def degenerate_docs_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("degenerate_docs")
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, ""),  # empty text -> zero tokens
        (3, "   "),  # whitespace-only -> zero tokens
        (4, None),  # NULL text
        (5, "x"),  # single token
        (24, "one two three four five six seven eight nine ten"),  # %23==1 tail
        (31, "lorem ipsum dolor sit amet consectetur"),  # %29==2 brace tail
        (46, None),  # NULL text on the %23==1 tail branch
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", DEGENERATE_DOC_QUERIES)
def test_degenerate_documents_parity(name, spark, degenerate_docs_dir):
    q = Q.REGISTRY[name]
    spark_pdf = q.fn(spark, degenerate_docs_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(degenerate_docs_dir, 'documents.parquet')}')"
    )
    duck_pdf = con.execute(q.oracle).fetchdf()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    s_rows, d_rows = _rows(spark_pdf), _rows(duck_pdf)
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} vs {len(d_rows)}"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
