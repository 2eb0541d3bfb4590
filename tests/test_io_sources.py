"""Source-format scans and checkpoint round-trips."""

from __future__ import annotations

import json
import os

from demy_spark.io import checkpoint, read_csv, read_json, read_text_corpus


def test_read_text_corpus(spark, tmp_path):
    p = os.path.join(str(tmp_path), "corpus.txt")
    with open(p, "w", encoding="utf-8") as f:
        f.write("first line\nsecond line\n")
    df = read_text_corpus(spark, p)
    assert [r["line"] for r in df.orderBy("line").collect()] == [
        "first line",
        "second line",
    ]


def test_read_csv_semicolon_default(spark, tmp_path):
    p = os.path.join(str(tmp_path), "tracks.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write("grippe;fr\nflu;en\n")
    df = read_csv(spark, p)
    rows = [tuple(r) for r in df.collect()]
    assert ("grippe", "fr") in rows and ("flu", "en") in rows


def test_read_json(spark, tmp_path):
    p = os.path.join(str(tmp_path), "conf.json")
    with open(p, "w", encoding="utf-8") as f:
        f.write(json.dumps({"url": "http://x", "depth": 2}) + "\n")
    r = read_json(spark, p).first()
    assert (r["url"], r["depth"]) == ("http://x", 2)


def test_checkpoint_escapes_bad_column_names(spark, tmp_path):
    # column names parquet can't store must round-trip (util.scala:60-77)
    df = spark.range(3).withColumnRenamed("id", "my col,with{bad}chars")
    path = os.path.join(str(tmp_path), "snap")
    out = checkpoint(df, path)
    assert out.columns == ["my col,with{bad}chars"]
    assert out.count() == 3


def test_checkpoint_reread_matches_inferred_schema(spark, tmp_path):
    # a fresh write re-reads with the schema it wrote (no inference
    # job); it must read back what a footer-inferred reuse reads
    df = spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 2)) AS `price $`, TIMESTAMP'2024-01-02 03:04:05' AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz, array(id, NULL) AS xs,"
        " named_struct('a', id, 'b', map('k', CAST(id AS STRING))) AS s FROM range(3)"
    )
    path = os.path.join(str(tmp_path), "snap")
    fresh = checkpoint(df, path, reuse_existing=False)
    reused = checkpoint(df, path)
    assert fresh.dtypes == reused.dtypes == df.dtypes
    rows = lambda d: sorted(d.collect())  # noqa: E731
    assert rows(fresh) == rows(reused) == rows(df)


def test_orc_roundtrip_pushdown(spark, tmp_path):
    # ORC sink/scan preserves values and the scan prunes: the filter
    # must reach the OrcScan as a pushed filter and the read schema
    # must shrink to the projected columns (q118's source/sink pair)
    src = spark.createDataFrame(
        [(i, f"doc {i}", i % 5) for i in range(100)],
        "doc_id long, text string, bucket long",
    )
    path = os.path.join(str(tmp_path), "orc")
    src.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == 100
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in src.collect()
    )
    plan = (
        back.where("bucket = 3")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "bucket" in plan.split("PushedFilters")[1][:80]
    assert "text" not in plan.split("ReadSchema")[1][:120]


def test_nanos_probe_distinguishes_int96_from_true_nanos(spark, tmp_path):
    """The nanosAsLong escape hatch must fire ONLY for true INT64
    TIMESTAMP(NANOS) columns. pyarrow's arrow-level schema reports
    legacy INT96 timestamps (Spark's int96 write path) as
    timestamp[ns] too — the old arrow-schema probe false-positived on
    Spark-written tables re-read through load_table, and the rescale
    then failed on an already-TIMESTAMP column (found by the r10
    scale-ladder twin). Three-way contract: true ns detected, micros
    not, INT96 not — and the INT96 table round-trips through
    load_table with the timestamp intact."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from demy_spark.io import _nanos_ts_fields, load_table

    ns = tmp_path / "ns.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1, 2, 3], pa.timestamp("ns"))}), str(ns)
    )
    assert _nanos_ts_fields(str(ns)) == ["ts"]
    us = tmp_path / "us.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1, 2, 3], pa.timestamp("us"))}), str(us)
    )
    assert _nanos_ts_fields(str(us)) == []
    # Spark INT96 write path -> re-read through load_table
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        sf = tmp_path / "twin"
        os.makedirs(sf)
        df = spark.createDataFrame(
            [(1, datetime.datetime(2026, 1, 2, 3, 4, 5))], "event_id long, ts timestamp"
        )
        df.write.parquet(str(sf / "events.parquet"))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    assert _nanos_ts_fields(str(sf / "events.parquet")) == []
    back = load_table(spark, str(sf), "events")
    row = back.collect()[0]
    assert row["ts"] == datetime.datetime(2026, 1, 2, 3, 4, 5)


def test_nanos_probe_ignores_nested_timestamp_fields(tmp_path):
    """A TIMESTAMP(NANOS) buried inside a struct must NOT flag the
    top-level column: the rescale is top-level arithmetic and would
    fail analysis on a struct (review r10)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from demy_spark.io import _nanos_ts_fields

    t = pa.table(
        {
            "meta": pa.array(
                [{"created": 1}], pa.struct([("created", pa.timestamp("ns"))])
            ),
            "ts": pa.array([5], pa.timestamp("ns")),
        }
    )
    p = tmp_path / "nested.parquet"
    pq.write_table(t, str(p))
    assert _nanos_ts_fields(str(p)) == ["ts"]


def test_spread_narrow_scan_fires_only_on_narrow_input(spark, sf_dir):
    """r13 optimization: a single-row-group fixture scan spreads to the
    session's cores; an input already at (or within 2x of) the core
    count passes through UNTOUCHED — the production multi-row-group
    case carries no exchange."""
    from demy_spark.io import load_table, spread_narrow_scan

    cores = spark.sparkContext.defaultParallelism
    narrow = load_table(spark, sf_dir, "documents")
    assert narrow.rdd.getNumPartitions() == 1
    spread = spread_narrow_scan(narrow)
    assert spread.rdd.getNumPartitions() == cores
    assert "Exchange RoundRobinPartitioning" in (
        spread._jdf.queryExecution().executedPlan().toString()
    )

    wide = narrow.repartition(cores)
    assert spread_narrow_scan(wide) is wide  # no-op, not even a new plan
    half = narrow.repartition(max(cores // 2, 1))
    assert spread_narrow_scan(half) is half  # within 2x: not worth it


def test_spread_narrow_scan_preserves_rows(spark, sf_dir):
    from demy_spark.io import load_table, spread_narrow_scan

    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = sorted((r["doc_id"], r["text"]) for r in df.collect())
    b = sorted(
        (r["doc_id"], r["text"]) for r in spread_narrow_scan(df).collect()
    )
    assert a == b
