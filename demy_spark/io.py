"""Table IO, checkpointing and snapshots.

Parity: core/src/main/scala/util/util.scala:31-78 (parquet checkpoint
with column-name escaping and reuse), mllib/src/main/scala/Model.scala:86-107
(per-step snapshot cache).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_INVALID = re.compile(r"[ ,;{}()\n\t=]")


def _nanos_ts_fields(path: str) -> list[str]:
    """Parquet TIMESTAMP(NANOS) columns — Spark has no nanos timestamp
    type, so these need the nanosAsLong escape hatch + a cast.

    ``path`` may be a single parquet file OR a directory of part
    files (every production table is multi-file; the footer probe
    reads the first part — one writer, one physical type)."""
    import pyarrow.parquet as pq

    path = first_parquet_file(path)
    if path is None:
        return []
    # probe the PARQUET schema, not the arrow view: pyarrow reports
    # legacy INT96 timestamps (Spark's spark.sql.parquet.int96* write
    # path) as timestamp[ns] too, and those Spark reads natively — the
    # nanosAsLong escape hatch is only for true INT64
    # TIMESTAMP(NANOS) columns (found by the r10 scale-ladder twin,
    # which re-reads Spark-written tables through load_table)
    md = pq.ParquetFile(path).metadata.schema
    out = []
    for i in range(len(md)):
        col = md.column(i)
        lt = col.logical_type
        if (
            col.physical_type == "INT64"
            and lt is not None
            and lt.type == "TIMESTAMP"
            and "timeUnit=nanoseconds" in str(lt)
            # nested fields have dotted paths (struct.member) — the
            # top-level rescale cannot apply to those, and flagging
            # the root would run timestamp arithmetic on a struct
            # column (code-review r10); only plain top-level
            # timestamp columns qualify (the arrow-schema probe this
            # replaced had the same top-level-only reach)
            and "." not in col.path
        ):
            out.append(col.path)
    return out


def first_parquet_file(path: str) -> str | None:
    """``path`` itself if it is a file, else the first part file under
    it (recursive) — the footer-probe target for multi-file tables.
    One writer, one physical type; None when the directory is empty."""
    import glob as _glob

    if not os.path.isdir(path):
        return path
    parts = sorted(
        p
        for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    )
    return parts[0] if parts else None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos = _nanos_ts_fields(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(
            c, F.timestamp_micros((F.col(c) / 1000).cast("long"))
        )
    # Spark 4.1 infers tz-less parquet timestamps as TIMESTAMP_NTZ, which
    # rejects epoch arithmetic (CAST(ts AS BIGINT)). With the session
    # pinned to UTC the instant is identical, so normalize to TIMESTAMP.
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


class TableCatalog(dict):
    """Lazy star-schema catalog: tables open (schema/footer read + temp
    view) on first access only. Eagerly opening all 10 fixture tables
    cost ~0.5 s of driver round-trips per query — pure overhead for
    queries touching 1-2 tables."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        df = load_table(self._spark, self._sf_dir, name)
        df.createOrReplaceTempView(name)
        self[name] = df
        return df


_catalog_cache: dict[tuple[int, str], TableCatalog] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """Lazy catalog over the star schema; each table registers as a
    temp view when first touched. Cached per (session, dir) so repeated
    queries reuse the opened DataFrames."""
    # Deterministic timestamp semantics even in sessions we didn't
    # build (the correctness driver hands us its own SparkSession).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir)
    if key not in _catalog_cache:
        _catalog_cache[key] = TableCatalog(spark, sf_dir)
    return _catalog_cache[key]


def spread_narrow_scan(df: DataFrame, *, target: int | None = None) -> DataFrame:
    """Round-robin repartition a scan that cannot split — ONLY when it
    under-parallelizes the session.

    The "one huge unsplittable input" case (optimization guide §2.5:
    gzip text, single-row-group parquet — the local fixtures are one
    row group, so every scan is ONE task): any per-row-heavy operator
    downstream runs serial on one core while the other N-1 idle. When
    the scan yields at least half the session's cores the exchange
    would buy <2x and is pure shuffle cost, so this is a NO-OP — which
    is exactly the production case (a 100 TB table is thousands of
    row groups), keeping the 100 TB plan exchange-free. Use it only in
    front of compute-bound per-row work; a scan feeding a cheap
    filter/partial-agg is better left serial (measured r13: q01's
    agg-to-6-groups REGRESSED 0.36 -> 0.84 under an unconditional
    rebalance, while c4_filters' HOF chain improved 3.98 -> 1.10).

    Row content is unchanged (round-robin only moves rows); every
    consumer downstream is row-order-independent by the oracle
    contract (sorted comparison).

    CONTRACT: ``df`` must be a SCAN-ROOTED, exchange-free frame (a
    read + narrow projections/filters at most). The partition probe
    below touches ``df.rdd``, which is cheap driver-side planning for
    such frames — but under AQE, ``.rdd`` on a plan that CONTAINS
    exchanges executes those shuffle stages eagerly to plan the rest
    (ADVICE r13). Wrap the raw scan, never a shuffled intermediate.
    """
    spark = df.sparkSession
    want = target or spark.sparkContext.defaultParallelism
    # physical scan partition count: cheap (~5 ms warm) driver-side
    # planning; no job runs FOR AN EXCHANGE-FREE FRAME (the contract
    # above — .rdd on a post-shuffle plan would run its shuffle stages)
    have = df.rdd.getNumPartitions()
    if have * 2 >= want:
        return df
    return df.repartition(want)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence] | pa.Table, schema: str | T.StructType
) -> DataFrame:
    """A driver-side table (query list, dictionary, merge table, media
    rows, an iterative operator's node state) as an in-JVM
    ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans a ``LogicalRDD`` over a
    pickled ``parallelize``, so every stage that scans it starts
    Python worker tasks and waits on their sockets (q134's 5-row query
    frame: 2-task stages ran 200-270 ms for 4-10 ms of CPU). Here the
    rows go column by column into an Arrow table typed by ``schema``
    (a DDL string or a ``StructType``; required, so no type inference)
    — the conversion the Spark Connect client applies to every local
    ``createDataFrame``. ``rows`` may already be a ``pyarrow.Table``
    (e.g. a ``toArrow()`` result): its columns, in ``schema`` order,
    are renamed and cast to it. Above
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps
    the Arrow batches in the JVM instead, which starts no Python
    worker either."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.rename_columns(arrow.names).cast(arrow)
    else:
        rows = list(rows)
        cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
        table = pa.Table.from_arrays(cols, schema=arrow)
    return spark.createDataFrame(table, schema)


def arrow_exact_key(dtype: T.DataType) -> bool:
    """Whether pyarrow's hash joins, group-bys and lookups pair values
    of the Spark type ``dtype`` exactly as Spark's equi-joins and
    groupings do: every atomic type but floating point (Spark equates
    -0.0 with 0.0 and every NaN with every other; Arrow hashes the bits)
    and strings under a non-binary collation (Spark compares those by
    the collation, Arrow by bytes). Arrow cannot hash nested (struct,
    array, map) values at all."""
    if isinstance(dtype, T.StringType):
        return dtype.collation == "UTF8_BINARY"
    return not isinstance(
        dtype, (T.FloatType, T.DoubleType, T.StructType, T.ArrayType, T.MapType)
    )


def read_text_corpus(spark: SparkSession, path: str, *, line_col: str = "line") -> DataFrame:
    """Text scan (≈ text/Corpus.scala:27, Word2VecApplier.scala:94-98):
    one row per line."""
    return spark.read.text(path).withColumnRenamed("value", line_col)


def read_csv(
    spark: SparkSession, path: str, *, sep: str = ";", header: bool = False
) -> DataFrame:
    """CSV scan with the reference's semicolon default
    (twitter/Execute.scala:30)."""
    return spark.read.option("sep", sep).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON scan (net2demy/Execute.scala:62)."""
    return spark.read.json(path)


def escape_columns(df: DataFrame) -> DataFrame:
    """Escape parquet-hostile characters in column names before writing.

    Parity: util.scala:60-77 encodes invalid chars on checkpoint; we
    percent-encode each offending character so the mapping is reversible.
    """
    renames = {}
    for c in df.columns:
        esc = _INVALID.sub(lambda m: f"%{ord(m.group(0)):02X}", c)
        if esc != c:
            renames[c] = esc
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df


def unescape_columns(df: DataFrame) -> DataFrame:
    for c in df.columns:
        orig = re.sub(r"%([0-9A-F]{2})", lambda m: chr(int(m.group(1), 16)), c)
        if orig != c:
            df = df.withColumnRenamed(c, orig)
    return df


def checkpoint(
    df: DataFrame,
    path: str,
    reuse_existing: bool = True,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Materialize to parquet and re-read — cuts lineage, enables reuse.

    Parity: util.scala:44-78 ``checkpoint(reuseExisting=...)``. At scale
    this is the resumable-pipeline primitive: a step's output survives
    driver restarts, unlike ``df.cache()``.
    """
    reader = df.sparkSession.read
    marker = os.path.join(path, "_SUCCESS")
    if not (reuse_existing and os.path.exists(marker)):
        escaped = escape_columns(df)
        writer = escaped.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        else:
            # the schema just written is known: reading with it skips
            # the footer-inference job
            reader = reader.schema(escaped.schema)
        writer.parquet(path)
    return unescape_columns(reader.parquet(path))
