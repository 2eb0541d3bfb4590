"""Query registry: every implemented operator exposed as a named query.

Each entry pairs a Spark DataFrame plan (the engine under test) with an
equivalent ANSI-SQL oracle that DuckDB runs over the same parquet tables.
Column names/types are aligned on both sides because the correctness
driver hashes values under sorted column names.

Float discipline: aggregates over doubles are rounded (2dp for money,
4dp for ratios) on BOTH sides so accumulation-order noise cannot flip
the hash; counts/keys stay exact.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demy_spark.io import load_tables, local_frame, spread_narrow_scan
from demy_spark.functions import textstats
from demy_spark.functions.vectors import cosine_similarity
from demy_spark.operators.topk import top_k_per_group
from demy_spark.session import keep, owned


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    # str, or a zero-arg callable resolved (and cached) on first
    # access — fixture-derived oracles (q141) defer their file reads
    # so importing the module never touches fixture data (ADVICE r9).
    _oracle: str | Callable[[], str] | None
    headline: bool = False  # included in bench.py

    @property
    def oracle(self) -> str | None:  # None → driver runs rows-only check
        if callable(self._oracle):
            self._oracle = self._oracle()
        return self._oracle


REGISTRY: dict[str, Query] = {}


_VEC_OK_SQL = (
    "embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0"
)


def mask_sql_spans(sql: str) -> tuple[str, list[str]]:
    """One left-to-right lexer pass masking ``--`` comments and
    single-quoted string literals with ``\\x00<i>\\x00`` placeholders
    (returned alongside for restoration). Regex passes cannot do this
    correctly in either order: a ``--`` INSIDE a literal must not open
    a comment, and an apostrophe INSIDE a comment must not open a
    literal — both misreads silently swallow real table references
    (r8 review; the q136 fuzz caught the comment-apostrophe form)."""
    out: list[str] = []
    spans: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = sql.find("'", i + 1)
            j = n - 1 if j == -1 else j
            spans.append(sql[i : j + 1])
            out.append(f"\x00{len(spans) - 1}\x00")
            i = j + 1
        elif c == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j == -1 else j
            spans.append(sql[i:j])
            out.append(f"\x00{len(spans) - 1}\x00")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out), spans


def _gate_table(sql: str, table: str, alias: str, where: str) -> str:
    """Rewrite an oracle so every ``table`` reference reads through a
    hygiene CTE (``alias AS (SELECT * FROM table WHERE where)``) — the
    mechanical oracle twin of an engine-side ingestion gate. Comments
    and string literals are lexer-masked first so data text (e.g. a
    keyword literal naming a table) is never renamed; the discovery
    helper still sees the raw table name inside the CTE."""
    masked, spans = mask_sql_spans(sql)
    masked = re.sub(rf"\b{table}\b", alias, masked)
    cte = f"{alias} AS (SELECT * FROM {table} WHERE {where})"
    # WITH detection must skip leading whitespace AND masked comments:
    # a comment above the WITH would otherwise hide it and a second
    # WITH would be prepended, which does not parse (r8 review)
    idx = 0
    while True:
        m = re.match(r"\s+|\x00\d+\x00", masked[idx:])
        if m is None:
            break
        idx += m.end()
    is_with = masked[idx : idx + 4].upper() == "WITH" and not (
        masked[idx + 4 : idx + 5].isalnum() or masked[idx + 4 : idx + 5] == "_"
    )
    if is_with:
        # RECURSIVE must directly follow WITH — the CTE goes AFTER it
        # (inserting between them yields 'WITH <cte>, RECURSIVE ...',
        # which does not parse; ADVICE r8)
        head = idx + 4
        m = re.match(r"(\s+|\x00\d+\x00)*RECURSIVE\b", masked[head:], re.I)
        if m is not None:
            head += m.end()
        masked = f"{masked[:head]} {cte},{masked[head:]}"
    else:
        masked = f"WITH {cte}\n{masked}"
    return re.sub(r"\x00(\d+)\x00", lambda m: spans[int(m.group(1))], masked)


def _gate_embeddings(sql: str) -> str:
    """Vector hygiene (oracle twin of
    :func:`demy_spark.functions.vectors.well_formed`): rows whose
    embedding is NULL or carries NULL elements are dropped on BOTH
    sides, because DuckDB's list kernels hard-error on NULL elements
    while the engine's guarded arithmetic silently nulls out — the
    r8 fixture audit made this divergence machine-visible."""
    return _gate_table(sql, "embeddings", "emb_ok", _VEC_OK_SQL)


def _gate_doc_ids(sql: str) -> str:
    """Identity hygiene (oracle twin of :func:`_docw`): a document with
    a NULL id cannot be tracked through id-KEYED reassembly, packing,
    rollup or lookup joins — those operators drop it at ingestion on
    both sides (r8 fixture audit). Queries whose NULL-id behavior is
    parity-identical by construction (pure per-row maps, content-hash
    group-bys) stay ungated."""
    return _gate_table(sql, "documents", "doc_ok", "doc_id IS NOT NULL")


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    gate_embeddings: bool = False,
    gate_doc_ids: bool = False,
):
    def deco(fn):
        def _gated(s: str | None) -> str | None:
            if gate_embeddings and s is not None:
                s = _gate_embeddings(s)
            if gate_doc_ids and s is not None:
                s = _gate_doc_ids(s)
            return s

        sql: str | Callable[[], str] | None
        if callable(oracle):
            sql = lambda _raw=oracle: _gated(_raw())  # noqa: E731
        else:
            sql = _gated(oracle)
        REGISTRY[name] = Query(fn=fn, _oracle=sql, headline=headline)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


def _embw(t: dict[str, DataFrame]) -> DataFrame:
    """The embeddings table behind the vector-hygiene gate
    (functions/vectors.well_formed): every embedding-CONSUMING query
    ingests through this, mirroring its oracle's ``gate_embeddings``
    rewrite. Queries that read embeddings rows without requiring
    complete vectors (q22/q69/q71/q82/q89 — their NULL handling is
    parity-identical by construction) read ``t["embeddings"]`` raw."""
    from demy_spark.functions.vectors import well_formed

    return t["embeddings"].where(well_formed("embedding"))


def _docw(t: dict[str, DataFrame]) -> DataFrame:
    """The documents table behind the identity-hygiene gate: id-KEYED
    operators (packing, reassembly, rollups, lookup joins) ingest
    through this, mirroring their oracle's ``gate_doc_ids`` rewrite —
    a NULL doc_id matches nothing in joins and cannot anchor
    reassembly. Pure per-row / content-keyed queries read
    ``t["documents"]`` raw (their NULL-id parity holds by
    construction; the degenerate fuzz pins it)."""
    return t["documents"].where(F.col("doc_id").isNotNull())


# ---------------------------------------------------------------------------
# Relational substrate (scan/filter/project/agg/join/window/set-ops).
# Parity notes cite the reference pattern each query generalizes.
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0        AS sum_base_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0                                     AS sum_disc_price,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100 + 0.5) AS BIGINT)) / 100.0                        AS sum_charge,
           round(avg(l_quantity), 2)                                        AS avg_qty,
           round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 100.0 / count(*), 2)                                     AS avg_price,
           round(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))
                 / 10000.0 / count(*), 4)                                   AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan→filter→hash-agg. One shuffle (partial aggs
    map-side — integer partials, so the combine stays map-side); the
    shipdate filter pushes to the parquet scan. Money sums/averages run
    in exact integer cents so the result is independent of partial-
    aggregation order (quantity sums are integer-valued doubles and
    already exact)."""
    li = _t(spark, sf_dir)["lineitem"]
    price_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    disc_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
     + 0.5).cast("bigint")
    charge_c = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
     + 0.5).cast("bigint")
    dismil = F.floor(F.col("l_discount") * 10000 + 0.5).cast("bigint")
    n = F.count("*")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(disc_c) / 100.0).alias("sum_disc_price"),
            (F.sum(charge_c) / 100.0).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.sum(price_c) / 100.0 / n, 2).alias("avg_price"),
            F.round(F.sum(dismil) / 10000.0 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q02_revenue_by_nation",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    headline=True,
)
def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with pushed-down partial aggregation: lineitem revenue
    is pre-aggregated per orderkey (map-side partial + one shuffle on
    the join key), which (a) shrinks the fact table to order grain
    before any join and (b) makes orderkey unique so the per-nation
    rollup needs no countDistinct expand. Dims broadcast; the orders
    join is AQE-broadcast at small SF and co-keyed at scale."""
    t = _t(spark, sf_dir)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
     + 0.5).cast("bigint")
    rev_per_order = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey"))
        .agg(F.sum(cents).alias("_rev_c_"))
    )
    return (
        rev_per_order.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            (F.sum("_rev_c_") / 100.0).alias("revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "q03_top_orders",
    """
    SELECT o.o_orderkey AS orderkey,
           sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue,
           o.o_orderdate AS orderdate, o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    headline=True,
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dim filter → join → agg → global
    top-k. Spark runs the LIMIT as TakeOrderedAndProject (no full
    sort). Revenue sums exact integer cents — the top-10 RANKS on this
    value, so a float sum near a boundary could otherwise change which
    orders qualify between runs."""
    t = _t(spark, sf_dir)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
     + 0.5).cast("bigint")
    return (
        t["customer"]
        .where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
        .groupBy(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg((F.sum(cents) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
        .select("orderkey", "revenue", "orderdate", "priority")
    )


@register(
    "q04_priority_exists",
    """
    SELECT o_orderpriority AS priority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
    """,
)
def q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (no row duplication, early-out probe)."""
    t = _t(spark, sf_dir)
    flagged = t["lineitem"].where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        t["orders"]
        .join(flagged, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q05_customers_without_orders",
    """
    SELECT c_mktsegment AS segment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (PhraseClustering orphan pattern,
    text/PhraseClustering.scala:36)."""
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q06_forecast_revenue",
    """
    SELECT sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
             / 100.0 AS promo_revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter+agg; all four predicates push to the parquet scan."""
    li = _t(spark, sf_dir)["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        ).agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * F.col("l_discount") * 100
                        + 0.5
                    ).cast("bigint")
                )
                / 100.0
            ).alias("promo_revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q07_top_orders_per_customer",
    """
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           round(o_totalprice, 2) AS totalprice,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
    FROM orders
    QUALIFY rk <= 3
    """,
)
def q07_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via rank window (geo argmax pattern,
    AddressLocalizator.scala:29-36, generalized to k)."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t["orders"]
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "rk",
        )
    )


@register(
    "q08_running_revenue",
    """
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q08_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (RankSplit fold-builder pattern,
    tuning/RankSplit.scala:36-44)."""
    t = _t(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["orders"].select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "q09_rollup_returns",
    """
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q09_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir)["lineitem"]
    return (
        li.rollup(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        ).agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
    )


@register(
    "q10_cube_orders",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q10_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")) / 100.0
            ).alias("total"),
        )
    )


@register(
    "q11_repeat_customers",
    """
    SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def q11_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op surface: INTERSECT of two filtered projections
    (union/difference patterns: tuning/RandomSplit.scala:30-33)."""
    t = _t(spark, sf_dir)
    o = t["orders"]
    a = o.where(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "q12_events_hourly",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           count(*) AS n,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    headline=True,
)
def q12_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming hourly tumbling window (the
    reference's hand-rolled hourly flush, twitter/Execute.scala:58-98).
    streaming/windows.py runs the same agg under readStream+watermark.

    Money sums are done in exact integer cents (round(value*100) as
    bigint) so the result is independent of partial-aggregation order —
    a double sum near a rounding boundary can differ run-to-run."""
    t = _t(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return (
        t["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents) / 100.0).alias("total_value"),
        )
    )


@register(
    "q13_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def q13_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>threshold cumsum — the batch analog of
    streaming session windows. NULL-ts ordering (r8 fixture audit —
    Spark's asc default is nulls FIRST, which flipped a boundary):
    NULL-ts events sort LAST, matching DuckDB's default NULLS LAST so
    the lag chain is identical on both sides. A user's FIRST NULL-ts
    event glues to their final timed session (its gap test is NULL);
    each FURTHER NULL-ts event sees a NULL lag and opens a
    one-event session — identically on both engines, since both the
    when() and the CASE read the same lag chain. The gap compares
    MICROSECONDS (unix_micros vs DuckDB's native interval): a
    whole-second cast would truncate a 1800.9s gap to 1800 and glue
    where the oracle splits (r8 review)."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 30 * 60 * 10**6),
        1,
    ).otherwise(0)
    return (
        t["events"]
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "q14_top_parts_per_brand",
    """
    SELECT p_brand AS brand, p_partkey AS partkey, round(p_retailprice, 2) AS price
    FROM part
    QUALIFY rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) <= 2
    """,
)
def q14_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() keeps ties → result set is deterministic even with equal
    prices (row_number would not be)."""
    t = _t(spark, sf_dir)
    ranked = top_k_per_group(
        t["part"],
        ["p_brand"],
        [F.col("p_retailprice").desc()],
        k=2,
        method="rank",
    )
    return ranked.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("partkey"),
        F.round("p_retailprice", 2).alias("price"),
    )


@register(
    "q15_acctbal_folds",
    """
    WITH folds AS (
      SELECT c_acctbal,
             CAST(ntile(5) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS fold
      FROM customer)
    SELECT fold, count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
    FROM folds GROUP BY fold
    """,
)
def q15_acctbal_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-ordered fold assignment (RankSplit, tuning/RankSplit.scala:14-120)
    expressed as ntile. NOTE: global-order ntile is single-partition; for
    the 100 TB path use operators/folds.py hash folds instead."""
    t = _t(spark, sf_dir)
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        t["customer"]
        .withColumn("fold", F.ntile(5).over(w))
        .groupBy("fold")
        .agg(F.count("*").alias("n"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
    )


@register(
    "q16_distinct_parts",
    """
    SELECT l_returnflag AS returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q16_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir)["lineitem"]
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Text analysis over `documents` (LLM-pipeline operators).
# ---------------------------------------------------------------------------

_TOKS_SQL = "list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')"

# the quality-heuristics tokenization (textstats.ws_norm_tokens):
# collapse ASCII whitespace runs FIRST so multi-line/tabbed documents
# tokenize on every run — the class is explicit because Java \s and
# RE2 \s disagree on \x0B
_TOKS_WS_SQL = (
    "list_filter(string_split(trim(lower(regexp_replace(text, "
    "'[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' '), x -> x <> '')"
)

# distinct word-trigram shingles of a document, as strings
_SHINGLES_SQL = (
    f"list_distinct([array_to_string(({_TOKS_SQL})[i:i+2], ' ') "
    f"FOR i IN range(1, len({_TOKS_SQL}) - 1)])"
)

# the SQL twin of operators/dedup._md5_long: a 60-bit (or shorter)
# non-negative integer from a hex slice of md5(expr)
def _md5_long_sql(expr: str, start: int, length: int = 15) -> str:
    return f"('0x' || substring(md5({expr}), {start}, {length}))::BIGINT"


@register(
    "q17_doc_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           CASE WHEN len({_TOKS_SQL}) > 0 THEN {_TOKS_SQL}[1] END AS first_tok,
           CASE WHEN len({_TOKS_SQL}) > 0 THEN {_TOKS_SQL}[-1] END AS last_tok
    FROM documents
    """,
)
def q17_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization + string scalar surface over documents."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    return t["documents"].select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(F.size(toks) > 0, toks[0]).alias("first_tok"),
        F.when(F.size(toks) > 0, F.element_at(toks, -1)).alias("last_tok"),
    )


@register(
    "q18_exact_dedup",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(({_TOKS_SQL})[1:3], ' ')) AS fp
      FROM documents
      WHERE len({_TOKS_SQL}) >= 3)
    SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM keyed GROUP BY fp HAVING count(*) > 1
    """,
    headline=True,
)
def q18_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (prefix-fingerprint) dedup: hash-groupBy, keep min id.
    The full-text variant is operators/dedup.exact_dedup; a 3-token
    prefix is used here so the synthetic corpus actually has groups."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    keyed = (
        t["documents"]
        .where(F.size(toks) >= 3)
        .select("doc_id", F.md5(F.concat_ws(" ", F.slice(toks, 1, 3))).alias("fp"))
    )
    return (
        keyed.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


@register(
    "q19_token_topk",
    f"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def q19_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary top-k: explode → count → TakeOrdered (dictionary
    build, feature/Tag2Vector.scala:63-85)."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    return (
        t["documents"]
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.LANG_PROFILES[lang])
    return (
        f"CAST(len(list_filter({_TOKS_SQL}, x -> x IN ({words}))) AS BIGINT)"
    )


@register(
    "q20_language_id",
    f"""
    WITH hits AS (
      SELECT doc_id,
             {_lang_hits_sql('de')} AS h_de,
             {_lang_hits_sql('en')} AS h_en,
             {_lang_hits_sql('es')} AS h_es,
             {_lang_hits_sql('fr')} AS h_fr
      FROM documents)
    SELECT doc_id, h_de, h_en, h_es, h_fr,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
                WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
                WHEN h_en >= h_de THEN 'en'
                ELSE 'de' END AS lang_guess
    FROM hits
    """,
)
def q20_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram heuristic (stopword-profile hits, argmax with
    later-alphabet tie-break) — fully columnar."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    hits = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*words))).cast("long")
        for lang, words in textstats.LANG_PROFILES.items()
    }
    df = t["documents"].select(
        "doc_id",
        hits["de"].alias("h_de"),
        hits["en"].alias("h_en"),
        hits["es"].alias("h_es"),
        hits["fr"].alias("h_fr"),
    )
    best = F.greatest("h_de", "h_en", "h_es", "h_fr")
    guess = (
        F.when(best == 0, "und")
        .when((F.col("h_fr") >= F.col("h_es")) & (F.col("h_fr") >= F.col("h_en")) & (F.col("h_fr") >= F.col("h_de")), "fr")
        .when((F.col("h_es") >= F.col("h_en")) & (F.col("h_es") >= F.col("h_de")), "es")
        .when(F.col("h_en") >= F.col("h_de"), "en")
        .otherwise("de")
    )
    return df.withColumn("lang_guess", guess)


@register(
    "q21_quality_score",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS DOUBLE) AS n_tok,
             length(text) AS n_char,
             CAST(len(list_filter({_TOKS_SQL},
                 x -> x IN ('the','of','and','to','in','is','that','it','for','was')))
                 AS DOUBLE) AS sw_hits
      FROM documents)
    SELECT doc_id,
           round(least(n_tok / 50.0, 1.0), 4) AS len_score,
           round(CASE WHEN n_tok > 0 THEN least(sw_hits / n_tok * 4.0, 1.0) ELSE 0.0 END, 4) AS sw_score
    FROM s
    """,
)
def q21_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring components (length sweet-spot + stopword ratio);
    the full blended score is functions/textstats.quality_score."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    n_tok = F.size(toks).cast("double")
    sw = F.size(
        F.filter(toks, lambda x: x.isin(*textstats.LANG_PROFILES["en"]))
    ).cast("double")
    return t["documents"].select(
        "doc_id",
        F.round(F.least(n_tok / 50.0, F.lit(1.0)), 4).alias("len_score"),
        F.round(
            F.when(n_tok > 0, F.least(sw / n_tok * 4.0, F.lit(1.0))).otherwise(0.0), 4
        ).alias("sw_score"),
    )


# ---------------------------------------------------------------------------
# Embedding ops over `embeddings`.
# ---------------------------------------------------------------------------


@register(
    "q22_label_centroids",
    """
    WITH flat AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
             unnest(embedding) AS v
      FROM embeddings)
    SELECT label, pos, round(avg(v), 4) + 0.0 AS centroid_val
    FROM flat GROUP BY label, pos
    """,
)
def q22_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise centroid per label: posexplode → hash agg. The
    vector-aggregate pattern (feature/GroupBy.scala sum/mean over ML
    vectors) executed as plain columnar aggregation."""
    t = _t(spark, sf_dir)
    return (
        t["embeddings"]
        .select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg((F.round(F.avg("v"), 4) + 0.0).alias("centroid_val"))
    )


@register(
    "q23_cosine_topk",
    """
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           CAST(row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                        b.vec_id) AS INTEGER) AS rk
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 5
    QUALIFY rk <= 5
    """,
    headline=True, gate_embeddings=True)
def q23_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (ANN baseline): broadcast the query
    side, score JVM-side via zip_with/aggregate, rank window. The
    LSH-bucketed scale path is operators/similarity.py."""
    t = _t(spark, sf_dir)
    emb = _embw(t)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_similarity("q_emb", "embedding").alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "rk")
    )


# ---------------------------------------------------------------------------
# Custom operators: fuzzy lookup (flagship), lexicon lookup.
# ---------------------------------------------------------------------------


@register(
    "q24_fuzzy_lookup",
    """
    WITH dtoks AS (
        SELECT doc_id,
               list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dict AS (
        SELECT array_to_string(toks[1:3], ' ') AS phrase, min(doc_id) AS entity_id
        FROM dtoks WHERE doc_id % 97 = 0 AND len(toks) >= 3
        GROUP BY 1
    ),
    postings AS (
        SELECT phrase, entity_id, tok, count(*) AS tf
        FROM (SELECT phrase, entity_id,
                     unnest(string_split(phrase, ' ')) AS tok FROM dict)
        GROUP BY 1, 2, 3
    ),
    dls AS (SELECT phrase, len(string_split(phrase, ' ')) AS dl FROM dict),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
    dfs AS (SELECT tok, count(DISTINCT phrase) AS df FROM postings GROUP BY 1),
    qtok AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
               unnest(toks) AS tok
        FROM dtoks WHERE doc_id % 10 = 0
    ),
    contrib AS (
        SELECT q.doc_id, q.pos, p.phrase, p.entity_id,
               4.0 * ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2)
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS c
        FROM qtok q
        JOIN postings p ON q.tok = p.tok
        JOIN dfs f ON p.tok = f.tok
        JOIN dls l ON p.phrase = l.phrase
        CROSS JOIN stats s
    ),
    wins AS (
        SELECT doc_id, phrase, entity_id,
               unnest(generate_series(greatest(pos - 2, 0), pos)) AS win, c
        FROM contrib
    ),
    win_scores AS (
        SELECT doc_id, phrase, entity_id, win, sum(c) AS s
        FROM wins GROUP BY 1, 2, 3, 4
    ),
    best_win AS (
        SELECT doc_id, phrase, entity_id, win, round(s, 6) AS s,
               row_number() OVER (PARTITION BY doc_id, phrase
                                  ORDER BY round(s, 6) DESC, win ASC) AS rk
        FROM win_scores
    ),
    ranked AS (
        SELECT doc_id, phrase, entity_id, win, s,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY round(s, 6) DESC, entity_id ASC) AS rk2
        FROM best_win WHERE rk = 1 AND s >= 1.0
    )
    SELECT r.doc_id, r.phrase, r.entity_id,
           array_to_string(d.toks[r.win + 1 : least(r.win + 3, len(d.toks))],
                           ' ') AS matched_tokens,
           r.win::INTEGER AS start_index,
           least(r.win + 3, len(d.toks))::INTEGER AS end_index
    FROM ranked r JOIN dtoks d ON r.doc_id = d.doc_id
    WHERE r.rk2 = 1
    """,
    headline=True,
)
def q24_fuzzy_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship fuzzy text lookup join: documents probed against a
    derived phrase dictionary (entity-linking shape). Golden-ranking
    parity with the reference's luceneLookup lives in
    tests/test_fuzzy_lookup.py; the DuckDB oracle recomputes the ngram
    sliding-window score (best 3-token window per candidate, earliest
    window on ties) from first principles."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        t["documents"]
        .where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 3))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
        )
        .groupBy("phrase")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    probes = t["documents"].where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    out = fuzzy_lookup(
        probes,
        dictionary,
        "text",
        "phrase",
        max_lev_distance=0,
        strategy="ngram",
        n_ngrams=3,
        min_score=1.0,
        tie_break_cols=("entity_id",),
    )
    return out.where(F.col("phrase").isNotNull()).select(
        "doc_id",
        "phrase",
        "entity_id",
        F.concat_ws(" ", F.col("_tags_")).alias("matched_tokens"),
        F.col("_startIndex_").alias("start_index"),
        F.col("_endIndex_").alias("end_index"),
    )


def bench_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (NOT registered): the r10 media decode paths under
    load — 512 one-second 16-bit WAVs through ``decode_audio`` (full
    waveform tensors) and 512 BMFF containers through
    ``sample_video_frames`` (sample-table walk + slices), unioned
    counts. Times the Arrow mapInPandas media path the fixture-scale
    q147/q149/q150 oracles cannot: a per-payload cost regression in
    the wave/box parsers surfaces here. Deterministic payloads; pure
    map shape (the count is the only shuffle)."""
    from demy_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
        sample_video_frames,
    )

    wav = encode_wav(
        [((i * 37) % 8192) - 4096 for i in range(16000)], 16000, 1, 2
    )
    mp4 = _q150_mp4()
    # The two payloads ride as PLAN LITERALS attached AFTER the
    # repartition of a bare id range (r13): the former
    # createDataFrame shape pickled 1024 x ~32 KB of fixture bytes
    # from the driver and pushed them through the exchange on every
    # bench pass — fixture plumbing, not the decode cost this extra
    # exists to time (guide §5: the driver should do no data work).
    # Row values are identical; only where the bytes materialize
    # changes.
    even = F.col("media_id") % 2 == 0
    media = (
        spark.range(1024)
        .select(F.col("id").alias("media_id"))
        .repartition(16)
        .select(
            "media_id",
            F.when(even, F.lit(bytes(wav)))
            .otherwise(F.lit(bytes(mp4)))
            .alias("payload"),
            F.struct(
                F.when(even, F.lit("audio/wav"))
                .otherwise(F.lit("video/mp4"))
                .alias("mime"),
                F.lit(0).alias("width"),
                F.lit(0).alias("height"),
                F.lit(3000).cast("long").alias("duration_ms"),
            ).alias("meta"),
        )
    )
    audio = decode_audio(media.where(F.col("media_id") % 2 == 0))
    frames = sample_video_frames(
        media.where(F.col("media_id") % 2 == 1), every_ms=500
    )
    return audio.select(
        F.col("media_id"), F.size("samples").cast("long").alias("n")
    ).unionByName(
        frames.select(
            F.col("media_id"), F.length("frame_bytes").cast("long").alias("n")
        )
    ).groupBy().agg(F.count(F.lit(1)).alias("rows"), F.sum("n").alias("units"))


def bench_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (NOT registered): the pure-Python JPEG decoder under
    load — 256 baseline + 256 progressive decodes of a dense 64x64
    photo-like image through ``decode_image`` pinned to
    ``_auto_decode`` (r11: the fixture-scale q146 oracle value-checks
    correctness; this times the per-payload entropy-decode cost where
    a Huffman/refinement regression would surface). Deterministic
    payloads; pure map shape (the count is the only shuffle)."""
    import numpy as np

    from demy_spark.jpeg import encode_jpeg, encode_progressive_jpeg
    from demy_spark.operators.multimodal import _auto_decode, decode_image

    x = np.linspace(0.0, 25.13, 64)
    plane = (
        (np.sin(x)[:, None] * np.cos(x)[None, :] * 0.5 + 0.5) * 200.0
        + (np.arange(64)[:, None] * 31 + np.arange(64)[None, :] * 17) % 56
    ).clip(0, 255).astype(np.uint8)
    img = np.stack(
        [plane, np.roll(plane, 3, 0), np.roll(plane, 7, 1)], axis=2
    )
    base = encode_jpeg(img, quality=90)
    prog = encode_progressive_jpeg(img, quality=90)
    # payloads as plan literals after the repartition — the
    # bench_media_decode rationale: stop timing driver fixture
    # pickling, keep the decoded rows identical
    media = (
        spark.range(512)
        .select(F.col("id").alias("media_id"))
        .repartition(16)
        .select(
            "media_id",
            F.when(F.col("media_id") % 2 == 0, F.lit(bytes(base)))
            .otherwise(F.lit(bytes(prog)))
            .alias("payload"),
            F.struct(
                F.lit("image/jpeg").alias("mime"),
                F.lit(64).alias("width"),
                F.lit(64).alias("height"),
                F.lit(3000).cast("long").alias("duration_ms"),
            ).alias("meta"),
        )
    )
    decoded = decode_image(media, decoder=_auto_decode)
    return decoded.groupBy().agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("decode_real").cast("long")).alias("real"),
        F.sum(F.size("pixels").cast("long")).alias("px"),
    )


def bench_fuzzy_probe_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (NOT registered): q24's fuzzy lookup with 10× the
    probe volume — every document probes the phrase dictionary instead
    of the 1-in-10 sample. Candidate-volume regressions (e.g. losing
    the default max_df bound) surface here long before they would in
    q24; bench.py reports it as an extra entry outside the
    baseline-comparable headline total."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        t["documents"]
        .where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 3))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
        )
        .groupBy("phrase")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    probes = t["documents"].select("doc_id", "text")
    out = fuzzy_lookup(
        probes,
        dictionary,
        "text",
        "phrase",
        max_lev_distance=0,
        strategy="ngram",
        n_ngrams=3,
        min_score=1.0,
        tie_break_cols=("entity_id",),
    )
    return out.where(F.col("phrase").isNotNull()).select(
        "doc_id", "phrase", "entity_id"
    )


@register(
    "q25_lexicon_lookup",
    f"""
    WITH lexicon AS (
      SELECT tok, 'LEMMA_' || upper(tok) AS lemma
      FROM (SELECT DISTINCT unnest({_TOKS_SQL}) AS tok FROM documents)
      WHERE length(tok) % 2 = 0),
    doc_toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
    SELECT d.doc_id, d.tok, l.lemma, count(*) AS n
    FROM doc_toks d LEFT JOIN lexicon l ON d.tok = l.tok
    GROUP BY d.doc_id, d.tok, l.lemma
    """,
)
def q25_lexicon_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon (lemmatizer) lookup join: explode tokens → broadcast
    dictionary join (text/Lemmatizer.scala:38-52 re-expressed; the
    lexicon is dictionary-sized by contract → broadcast, no shuffle on
    the fact side)."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    lexicon = (
        t["documents"]
        .select(F.explode(toks).alias("tok"))
        .distinct()
        .where(F.length("tok") % 2 == 0)
        .select("tok", F.concat(F.lit("LEMMA_"), F.upper("tok")).alias("lemma"))
    )
    doc_toks = t["documents"].select("doc_id", F.explode(toks).alias("tok"))
    return (
        doc_toks.join(F.broadcast(lexicon), "tok", "left")
        .groupBy("doc_id", "tok", "lemma")
        .agg(F.count("*").alias("n"))
        .select("doc_id", "tok", "lemma", "n")
    )


# ---------------------------------------------------------------------------
# Dedup + similarity search (LLM-pipeline operators).
# ---------------------------------------------------------------------------


@register(
    "q26_minhash_dedup",
    f"""
    WITH docs AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shl
      FROM documents WHERE len({_TOKS_SQL}) >= 3),
    h AS (
      SELECT doc_id,
             {_md5_long_sql('s', 1)} AS h1,
             {_md5_long_sql('s', 16, 8)} & 2147483647 AS h2
      FROM (SELECT doc_id, unnest(shl) AS s FROM docs)),
    slots AS (
      SELECT doc_id, i.i, min(h1 + (2 * i.i + 1) * h2) AS slot
      FROM h, (SELECT unnest(range(128)) AS i) i
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, i // 4 AS band, list(slot ORDER BY i) AS key
      FROM slots GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    jac AS (
      SELECT cand.doc_a, cand.doc_b,
             round(CAST(len(list_intersect(da.shl, db.shl)) AS DOUBLE)
                   / len(list_distinct(list_concat(da.shl, db.shl))), 6)
                 AS jaccard
      FROM cand
      JOIN docs da ON cand.doc_a = da.doc_id
      JOIN docs db ON cand.doc_b = db.doc_id)
    SELECT doc_a, doc_b, jaccard + 0.0 AS jaccard
    FROM jac WHERE jaccard >= 0.5
    """,
    headline=True,
)
def q26_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents (exact-Jaccard
    verified, so no false positives; banding bounds recall only). The
    md5-slice hash family (see operators/dedup._md5_long) lets the
    DuckDB oracle recompute the 128-slot signatures and band buckets
    bit-for-bit — the LSH approximation itself is verified, not just
    the final pairs."""
    from demy_spark.operators.dedup import minhash_lsh_dedup

    t = _t(spark, sf_dir)
    return minhash_lsh_dedup(
        t["documents"], "text", "doc_id", jaccard_threshold=0.5
    )


@register(
    "q27_simhash_dedup",
    f"""
    WITH th AS (
      SELECT doc_id, {_md5_long_sql('w', 1)} AS h
      FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents)),
    votes AS (
      SELECT doc_id, b.b, sum((h >> b.b) & 1) AS ones, count(*) AS n
      FROM th, (SELECT unnest(range(60)) AS b) b
      GROUP BY 1, 2),
    sim AS (
      SELECT doc_id,
             sum(CASE WHEN ones * 2 > n THEN (1::BIGINT << b) ELSE 0 END) AS s
      FROM votes GROUP BY 1),
    chunks AS (
      SELECT doc_id, s, c.c, (s >> (c.c * 15)) & 32767 AS ck
      FROM sim, (SELECT unnest(range(4)) AS c) c),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.s AS sa, b.s AS sb
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INTEGER AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 6
    """,
)
def q27_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Charikar chunk blocking, hamming ≤ 6).
    The 60-bit fingerprint is built from md5-slice token hashes, so
    the DuckDB oracle recomputes fingerprints, chunk blocks, and
    hamming distances exactly — including which pairs the blocking
    recalls."""
    from demy_spark.operators.dedup import simhash_dedup

    t = _t(spark, sf_dir)
    return simhash_dedup(t["documents"], "text", "doc_id", max_hamming=6)


@register(
    "q28_embedding_dedup",
    """
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 5 = 0
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 2) + 0.0 AS cosine
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.9
    """, gate_embeddings=True)
def q28_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via hyperplane-LSH blocking.

    The fixture's embeddings are mutually far apart (max pairwise cosine
    ~0.51), so the corpus is seeded with exact duplicates of every 5th
    vector under shifted ids — the dedup shape of a re-crawled corpus.
    Identical vectors hash to identical LSH buckets, so the blocked plan
    provably finds every pair the brute-force oracle finds (no LSH
    false-negative at the 0.9 threshold given the 0.51 background)."""
    from demy_spark.operators.dedup import embedding_cosine_pairs

    t = _t(spark, sf_dir)
    emb = _embw(t).select("vec_id", "embedding")
    dup = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    pairs = embedding_cosine_pairs(
        emb.unionByName(dup), "embedding", "vec_id", threshold=0.9, num_planes=8
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        (F.round(F.col("cosine").cast("double"), 2) + F.lit(0.0)).alias("cosine"),
    )


@register(
    "q29_lsh_ann_topk",
    """
    WITH dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    comps AS (
        SELECT p.p, dd.d,
               ((((p.p * 1000003 + dd.d * 7 + 42) & 1048575) * 2654435761)
                % 4294967296 % 100003) / 100003.0 * 2.0 - 1.0 AS w
        FROM (SELECT unnest(range(4)) AS p) p,
             (SELECT DISTINCT d FROM dims) dd
    ),
    dots AS (
        SELECT dims.vec_id, comps.p, sum(dims.x * comps.w) AS dot
        FROM dims JOIN comps ON dims.d = comps.d
        GROUP BY 1, 2
    ),
    buckets AS (
        SELECT vec_id,
               sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM dots GROUP BY 1
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q
        JOIN buckets c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    sims AS (
        -- zero-norm guard (oracle contract): the engine scores a
        -- zero vector's cosine as 0, DuckDB's raw helper does not
        SELECT cand.query_id, cand.neighbor_id,
               CASE WHEN nq.nx > 0 AND nb.nx > 0
                    THEN list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[])
                    ELSE 0 END AS sim
        FROM cand
        JOIN embeddings a ON cand.query_id = a.vec_id
        JOIN embeddings b ON cand.neighbor_id = b.vec_id
        JOIN vnorm nq ON cand.query_id = nq.vec_id
        JOIN vnorm nb ON cand.neighbor_id = nb.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, round(sim, 4) + 0.0 AS sim, rk::INTEGER AS rk
    FROM ranked WHERE rk <= 5
    """, gate_embeddings=True)
def q29_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors (hyperplane LSH buckets + exact
    cosine rerank) — the scale path behind q23's exact baseline. The
    plane components use a Knuth multiplicative hash, so the DuckDB
    oracle recomputes the BUCKETS themselves bit-for-bit, then the
    same in-bucket rerank — the approximation is verified, not just
    row-counted."""
    from demy_spark.operators.similarity import lsh_cosine_topk

    t = _t(spark, sf_dir)
    emb = _embw(t)
    return lsh_cosine_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        "embedding",
        "vec_id",
        k=5,
        num_planes=4,
    ).select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rk")


@register(
    "q30_ngram_jaccard",
    f"""
    WITH docs AS (
      SELECT doc_id,
             {_SHINGLES_SQL} AS sh,
             array_to_string(({_TOKS_SQL})[1:2], ' ') AS blk
      FROM documents WHERE len({_TOKS_SQL}) >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.05
    """,
)
def q30_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard over pairs blocked on their first-2-token
    prefix — the oracle-able twin of operators/dedup.ngram_jaccard_pairs
    (which blocks on min-shingle-hash; hashes aren't SQL-portable)."""
    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )
    )
    docs = (
        t["documents"]
        .where(F.size(toks) >= 3)
        .select(
            "doc_id",
            shingles.alias("sh"),
            F.concat_ws(" ", F.slice(toks, 1, 2)).alias("blk"),
        )
    )
    a, b = docs.alias("a"), docs.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")).cast("double") / F.size(
        F.array_union("a.sh", "b.sh")
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.05)
    )


@register(
    "q31_dup_clusters",
    f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             {_SHINGLES_SQL} AS sh,
             array_to_string(({_TOKS_SQL})[1:2], ' ') AS blk
      FROM documents WHERE len({_TOKS_SQL}) >= 3),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.05),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(x, y) AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
    SELECT x AS doc_id, least(x, min(y)) AS cluster_id
    FROM reach GROUP BY x
    HAVING x <> least(x, min(y))
    """,
)
def q31_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: near-dup pairs → iterative min-id
    propagation (bounded connected components, no driver-side graph).
    Pairs here are the oracle-portable prefix-blocked trigram-jaccard
    edges (q30); the minhash pair source feeds the same operator in
    q26's pipeline. The DuckDB oracle computes true components via a
    recursive transitive closure — it matches because near-dup
    component diameters are far below the propagation bound."""
    from demy_spark.operators.dedup import assign_clusters

    t = _t(spark, sf_dir)
    docs = t["documents"]
    toks = textstats.norm_tokens(F.col("text"))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )
    )
    blocked = docs.where(F.size(toks) >= 3).select(
        "doc_id",
        shingles.alias("sh"),
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("blk"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")).cast("double") / F.size(
        F.array_union("a.sh", "b.sh")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(jac >= 0.05)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    clusters = assign_clusters(pairs, docs.select("doc_id"), "doc_id")
    return clusters.where(F.col("doc_id") != F.col("cluster_id"))


@register(
    "q32_media_features",
    """
    WITH payloads AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 4 WHEN 0 THEN 'GIF8'
                               WHEN 1 THEN 'RIFF'
                               WHEN 2 THEN 'ID3' ELSE '' END || text AS p
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT media_id,
           length(p) AS n_bytes,
           sha256(p) AS digest,
           CASE media_id % 4 WHEN 0 THEN 'image/gif'
                             WHEN 1 THEN 'audio/wav'
                             WHEN 2 THEN 'audio/mpeg'
                             ELSE 'application/octet-stream' END AS sniffed_mime,
           round(len(list_distinct(string_split(p, ''))) / 256.0, 6)
               AS entropy_proxy
    FROM payloads
    """,
)
def q32_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, value-verified per row: documents become
    binary payloads with rotated (ASCII-safe) magic headers, then the
    REAL Arrow-batched ``mapInPandas`` byte-feature extractor runs —
    size, sha256 digest, magic-sniffed mime, distinct-byte entropy.
    The corpus is ASCII (asserted by the oracle's length(p) =
    octet_length match), so DuckDB recomputes every feature from the
    same bytes: digest via sha256(VARCHAR), entropy via distinct
    characters. The sniffed mime comes from actual payload bytes on
    the Spark side but from doc_id arithmetic in the oracle — magic
    dispatch itself is under test."""
    from demy_spark.operators.multimodal import extract_byte_features

    t = _t(spark, sf_dir)
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("GIF8"))
        .when(F.col("doc_id") % 4 == 1, F.lit("RIFF"))
        .when(F.col("doc_id") % 4 == 2, F.lit("ID3"))
        .otherwise(F.lit(""))
    )
    media = (
        t["documents"]
        .where(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.concat(magic, F.col("text")).cast("binary").alias("payload"),
        )
    )
    feats = extract_byte_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.col("sha256").alias("digest"),
        "sniffed_mime",
        F.round("entropy_proxy", 6).alias("entropy_proxy"),
    )


# ---------------------------------------------------------------------------
# Tuning: folders, out-of-fold prediction, threshold optimization
# (tuning/RandomSplit.scala, FoldsPredictor.scala, BinaryOptimalEvaluator.scala)
# ---------------------------------------------------------------------------


@register(
    "q33_hash_folds",
    """
    WITH folds AS (
      SELECT c_acctbal,
             CAST(((c_custkey * 2654435761) % 4294967296) % 5 AS INTEGER) AS fold
      FROM customer)
    SELECT fold, count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
    FROM folds GROUP BY fold
    """,
)
def q33_hash_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-consistent hash folds (RandomSplit, tuning/RandomSplit.scala:
    46-57): multiplicative-hash fold id — shuffle-free assignment, the
    scale path vs q15's global-sort ntile."""
    from demy_spark.tuning import random_split

    t = _t(spark, sf_dir)
    return (
        random_split(t["customer"], 5, "c_custkey")
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
    )


@register(
    "q34_threshold_sweep",
    """
    WITH scored AS (
      SELECT ((o_orderkey * 2654435761) % 4294967296) / 4294967296.0 AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    binned AS (
      SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
             sum(y) AS pos, count(*) AS n
      FROM scored GROUP BY 1),
    cum AS (
      SELECT bin,
             sum(pos) OVER w AS tp,
             sum(n) OVER w - sum(pos) OVER w AS fp,
             sum(pos) OVER () - sum(pos) OVER w AS fn,
             (sum(n) OVER () - sum(pos) OVER ())
               - (sum(n) OVER w - sum(pos) OVER w) AS tn
      FROM binned WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING))
    SELECT bin / 20.0 AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           round(tp / nullif(tp + fp, 0), 6) AS precision,
           round(tp / nullif(tp + fn, 0), 6) AS recall,
           round(coalesce(2.0 * (tp / nullif(tp + fp, 0)) * (tp / nullif(tp + fn, 0))
                 / nullif(tp / nullif(tp + fp, 0) + tp / nullif(tp + fn, 0), 0), 0), 6) AS f1
    FROM cum ORDER BY threshold
    """,
)
def q34_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryOptimalEvaluator's binned threshold sweep (tuning/
    BinaryOptimalEvaluator.scala:35-224) over a deterministic
    pseudo-score. Constant-size agg before the global window."""
    from demy_spark.tuning import threshold_sweep

    t = _t(spark, sf_dir)
    scored = t["orders"].select(
        (
            F.pmod(F.col("o_orderkey").cast("long") * 2654435761, 4294967296)
            / 4294967296.0
        ).alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    return threshold_sweep(scored, "score", "y", bins=20)


@register(
    "q54_binary_metrics",
    """
    WITH scored AS (
      SELECT 0.6 * ((o_orderkey * 2654435761) % 4294967296) / 4294967296.0
               + 0.4 * (CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    binned AS (
      SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
             sum(y) AS pos, count(*) AS n
      FROM scored GROUP BY 1),
    cum AS (
      SELECT bin,
             sum(pos) OVER w AS tp,
             sum(n) OVER w - sum(pos) OVER w AS fp,
             sum(pos) OVER () - sum(pos) OVER w AS fn,
             (sum(n) OVER () - sum(pos) OVER ())
               - (sum(n) OVER w - sum(pos) OVER w) AS tn
      FROM binned WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)),
    pts AS (
      SELECT bin / 20.0 AS threshold,
             tp / nullif(tp + fn, 0) AS tpr,
             fp / nullif(fp + tn, 0) AS fpr,
             tp::DOUBLE AS a, fp::DOUBLE AS b, fn::DOUBLE AS c, tn::DOUBLE AS d,
             round(coalesce(
                 2.0 * (tp / nullif(tp + fp, 0)) * (tp / nullif(tp + fn, 0))
                 / nullif(tp / nullif(tp + fp, 0) + tp / nullif(tp + fn, 0), 0),
                 0), 6) AS f1
      FROM cum),
    segs AS (
      SELECT (fpr - coalesce(lag(fpr) OVER (ORDER BY threshold DESC), 0.0))
             * (tpr + coalesce(lag(tpr) OVER (ORDER BY threshold DESC), 0.0)) / 2.0
               AS seg
      FROM pts),
    auc AS (SELECT round(sum(seg), 6) AS auc FROM segs),
    best AS (
      SELECT threshold AS best_threshold, f1 AS best_f1,
             round((a+b+c+d) * (a*d - b*c) * (a*d - b*c)
                   / nullif((a+b)*(c+d)*(a+c)*(b+d), 0), 4) AS chi2
      FROM pts ORDER BY f1 DESC, threshold ASC LIMIT 1)
    SELECT auc.auc + 0.0 AS auc, best_threshold, best_f1 + 0.0 AS best_f1,
           chi2 + 0.0 AS chi2
    FROM auc, best
    """,
)
def q54_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryOptimalEvaluator's metric bundle (BinaryOptimalEvaluator.
    scala:35-224, evaluation/BinaryMetrics.scala:8-38): areaUnderROC by
    trapezoid over the binned sweep + the chi-square statistic at the
    best-f1 threshold. The p-value (erfc, no SQL equivalent) is exposed
    via tuning.binary_metrics; the oracle verifies AUC and the chi2
    statistic."""
    from demy_spark.tuning import chi_square_2x2, roc_auc_from_sweep, threshold_sweep

    t = _t(spark, sf_dir)
    y = (F.col("o_orderstatus") == "F").cast("int")
    scored = t["orders"].select(
        (
            0.6
            * F.pmod(F.col("o_orderkey").cast("long") * 2654435761, 4294967296)
            / 4294967296.0
            + 0.4 * y
        ).alias("score"),
        y.alias("y"),
    )
    sweep = keep(threshold_sweep(scored, "score", "y", bins=20))
    auc = roc_auc_from_sweep(sweep)
    w = Window.orderBy(F.desc("f1"), F.asc("threshold"))
    best = (
        sweep.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") == 1)
        .select(
            F.col("threshold").alias("best_threshold"),
            F.col("f1").alias("best_f1"),
            F.round(chi_square_2x2("tp", "fp", "fn", "tn"), 4).alias("chi2"),
        )
    )
    return auc.crossJoin(best)


@register(
    "q35_oof_mean_model",
    """
    WITH folds AS (
      SELECT c_custkey, c_acctbal,
             CAST(((c_custkey * 2654435761) % 4294967296) % 4 AS INTEGER) AS fold
      FROM customer),
    stats AS (
      SELECT fold, sum(c_acctbal) AS s, count(*) AS n FROM folds GROUP BY fold),
    thresholds AS (
      SELECT fold,
             (sum(s) OVER () - s) / (sum(n) OVER () - n) AS train_mean
      FROM stats)
    SELECT f.fold, count(*) AS n_test,
           CAST(sum(CASE WHEN f.c_acctbal > t.train_mean THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           round(any_value(t.train_mean), 2) AS train_mean
    FROM folds f JOIN thresholds t ON f.fold = t.fold
    GROUP BY f.fold
    """,
)
def q35_oof_mean_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold prediction (FoldsPredictor.scala:43-124) with a
    mean-threshold model: each fold is scored by a model fit on the
    other folds. The fit callable collects ONE scalar per fold (the
    train mean) — the pattern that generalizes to any estimator."""
    from demy_spark.tuning import out_of_fold_predict

    t = _t(spark, sf_dir)
    cust = t["customer"].select("c_custkey", "c_acctbal")

    def fit(train: DataFrame) -> float:
        return train.agg(F.avg("c_acctbal")).first()[0]

    def transform(mean: float, test: DataFrame) -> DataFrame:
        return test.select(
            "c_custkey",
            "c_acctbal",
            (F.col("c_acctbal") > mean).cast("int").alias("pred"),
            F.lit(mean).alias("train_mean"),
        )

    from demy_spark.tuning import fold_of

    oof = out_of_fold_predict(cust, 4, "c_custkey", fit, transform)
    return (
        oof.withColumn("fold", fold_of("c_custkey", 4))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum("pred").alias("n_above"),
            F.round(F.any_value("train_mean"), 2).alias("train_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Feature encoders (Tag2Vector multi-hot, embedding application) and
# classification (one-vs-rest).
# ---------------------------------------------------------------------------


@register(
    "q36_multi_hot",
    """
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS INTEGER) AS hot_click,
           CAST(max(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS INTEGER) AS hot_error,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS hot_purchase,
           CAST(max(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS INTEGER) AS hot_signup,
           CAST(max(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS INTEGER) AS hot_view,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q36_multi_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag2Vector multi-hot encoding (feature/Tag2Vector.scala:32-50):
    per-user event-type set → multi-hot over the literal vocabulary.
    Encoding is a pure projection — the vocabulary lives in the plan."""
    from demy_spark.features import multi_hot

    vocab = ["click", "error", "purchase", "signup", "view"]
    t = _t(spark, sf_dir)
    sets = t["events"].groupBy("user_id").agg(
        F.collect_set("event_type").alias("types")
    )
    hot = multi_hot("types", vocab)
    return sets.select(
        "user_id",
        *[hot[i].alias(f"hot_{v}") for i, v in enumerate(vocab)],
        F.size("types").cast("long").alias("n_types"),
    )


@register(
    "q37_embed_apply",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents),
    counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    vocab AS (
      SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS r
      FROM counts QUALIFY r <= 50),
    nt AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    j AS (SELECT t.doc_id, v.r FROM toks t JOIN vocab v USING (w)),
    agg AS (
      SELECT doc_id, count(*) AS n_matched,
             sum(((r * 31 + 0) * 2654435761 % 4294967296) / 4294967296.0) AS d0,
             sum(((r * 31 + 1) * 2654435761 % 4294967296) / 4294967296.0) AS d1,
             sum(((r * 31 + 2) * 2654435761 % 4294967296) / 4294967296.0) AS d2,
             sum(((r * 31 + 3) * 2654435761 % 4294967296) / 4294967296.0) AS d3
      FROM j GROUP BY doc_id)
    SELECT a.doc_id, round(d0, 4) AS d0, round(d1, 4) AS d1,
           round(d2, 4) AS d2, round(d3, 4) AS d3,
           nt.n_tokens, a.n_matched
    FROM agg a JOIN nt USING (doc_id)
    """, gate_doc_ids=True)
def q37_embed_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2VecApplier's lookup-join + per-doc vector sum
    (text/Word2VecApplier.scala:104-138) against a deterministic
    pseudo-embedding table built from the corpus' top-50 tokens. The
    element-wise sum runs as posexplode → keyed aggs (all codegen)."""
    from demy_spark.features import apply_embeddings

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    docs = _docw(t).select("doc_id", toks.alias("toks"))
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    vectors = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 50)
        .select(
            "w",
            F.array(
                *[
                    (
                        F.pmod((F.col("r") * 31 + d) * 2654435761, 4294967296)
                        / 4294967296.0
                    )
                    for d in range(4)
                ]
            ).alias("vec"),
        )
    )
    applied = apply_embeddings(
        docs, "doc_id", "toks", vectors, word_col="w", vector_col="vec",
        element_type="double",
    )
    emb = F.col("embedding")
    return applied.select(
        "doc_id",
        *[F.round(emb[d], 4).alias(f"d{d}") for d in range(4)],
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_matched").cast("long").alias("n_matched"),
    )


# Frozen one-vs-rest weights for q38 (4 labels × 64 dims + intercepts,
# deterministic literals on both sides — the q73/q70 frozen-replay
# pattern: the LinearSVC fit that would produce them is exercised in
# tests/test_features_classification.py; the driver row verifies the
# margin → atan-score → argmax transform value-for-value).
_Q38_W = [
    [round(__import__("math").sin((d + 1) * (l + 1)), 6) for d in range(64)]
    for l in range(4)
]
_Q38_B = [round(__import__("math").cos(l + 1), 6) for l in range(4)]

_Q38_SQL = f"""
    WITH wt AS (
        SELECT l, generate_subscripts(w, 1) - 1 AS d, unnest(w) AS wv
        FROM (VALUES {", ".join(
            f"({l}, CAST([{', '.join(str(x) for x in _Q38_W[l])}] AS DOUBLE[]))"
            for l in range(4)
        )} ) AS t(l, w)),
    bias AS (
        SELECT * FROM (VALUES {", ".join(
            f"({l}, {_Q38_B[l]})" for l in range(4)
        )} ) AS t(l, b)),
    dims AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    marg AS (
        SELECT vec_id, label, l, round(sum(x * wv) + any_value(b), 6) AS m
        FROM dims JOIN wt USING (d) JOIN bias USING (l)
        GROUP BY vec_id, label, l),
    pick AS (
        SELECT vec_id, label, l,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY m DESC, l ASC) AS rk
        FROM marg)
    SELECT CAST(label % 4 AS INTEGER) AS y,
           CAST(l AS INTEGER) AS predicted_label,
           count(*) AS n
    FROM pick WHERE rk = 1
    GROUP BY 1, 2
"""


@register("q38_one_vs_rest", _Q38_SQL, gate_embeddings=True)
def q38_one_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiscreteVectorClassifier transform (classification/
    DiscreteVectorClassifier.scala:19-150 + RawPrediction2Score.scala:
    24-35): per-label margins from frozen weight vectors, atan-blended
    scores, argmax label, label × predicted confusion. Margins are
    rounded to 6dp before the blend so the oracle's sum order can't
    flip a comparison; argmax ties break to the lowest label on both
    engines. The LinearSVC fit that would produce these weights stays
    covered by tests (iterative, non-SQL); this row makes the serving
    path value-verified — no_oracle count: zero."""
    from demy_spark.classification import predict_one_vs_rest_frozen

    t = _t(spark, sf_dir)
    base = _embw(t).select(
        "embedding", (F.col("label") % 4).cast("int").alias("y")
    )
    pred = predict_one_vs_rest_frozen(
        base, "embedding", _Q38_W, _Q38_B, margin_decimals=6
    )
    return pred.groupBy("y", "predicted_label").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Geo: hierarchy flatten, address parse, locality fuzzy match, bbox join.
# ---------------------------------------------------------------------------


@register(
    "q39_admin_flatten",
    """
    SELECT c.c_custkey AS leaf_key,
           r.r_name || ' > ' || n.n_name || ' > ' || c.c_name AS path
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q39_admin_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoNames hierarchy flatten (twitter/GeoNames.scala:9-128):
    chained parent-child joins building alias paths, region → nation →
    customer standing in for country → adm → city."""
    from demy_spark.geo import admin_hierarchy_flatten

    t = _t(spark, sf_dir)
    return admin_hierarchy_flatten(
        [
            (t["region"], "r_regionkey", "", "r_name"),
            (t["nation"], "n_nationkey", "n_regionkey", "n_name"),
            (t["customer"], "c_custkey", "c_nationkey", "c_name"),
        ]
    )


_ADDR_SQL = (
    "CAST(c_custkey % 999 + 1 AS VARCHAR) || ' RUE ' || c_mktsegment || ' ' || "
    "CAST(10000 + c_nationkey * 100 + c_custkey % 100 AS VARCHAR) || ' ' || n_name"
)


@register(
    "q40_parse_address",
    rf"""
    WITH a AS (
      SELECT c_custkey, {_ADDR_SQL} AS addr
      FROM customer JOIN nation ON c_nationkey = n_nationkey),
    stripped AS (
      SELECT c_custkey, addr, trim(regexp_replace(addr, '^(\d+)', '')) AS no_num
      FROM a)
    SELECT c_custkey,
           CAST(regexp_extract(addr, '^(\d+)', 1) AS INTEGER) AS house_number,
           regexp_extract(addr, '\b(\d{{5}})\b', 1) AS postcode,
           trim(string_split_regex(no_num, '\b\d{{5}}\b')[1]) AS street,
           -- city mirrors the engine contract: NULL on NULL address,
           -- '' when the address has no standalone 5-digit postcode,
           -- else the tail after the postcode
           CASE WHEN addr IS NULL THEN NULL
                WHEN regexp_extract(addr, '\b(\d{{5}})\b', 1) <> ''
                  THEN trim(string_split_regex(no_num, '\b\d{{5}}\b')[-1])
                ELSE '' END AS city
    FROM stripped
    """,
)
def q40_parse_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Address parsing heuristics (geo/ParsedAddress.scala:42-67) over
    synthetic addresses built from fixture columns: leading house
    number, 5-digit postcode, street between, city tail."""
    from demy_spark.geo import parse_address

    t = _t(spark, sf_dir)
    addr = F.concat(
        (F.col("c_custkey") % 999 + 1).cast("string"),
        F.lit(" RUE "),
        F.col("c_mktsegment"),
        F.lit(" "),
        (10000 + F.col("c_nationkey") * 100 + F.col("c_custkey") % 100).cast("string"),
        F.lit(" "),
        F.col("n_name"),
    )
    base = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", parse_address(addr).alias("p"))
    )
    return base.select(
        "c_custkey",
        F.col("p.house_number").alias("house_number"),
        F.col("p.postcode").alias("postcode"),
        F.col("p.street").alias("street"),
        F.col("p.city").alias("city"),
    )


@register(
    "q41_locality_match",
    """
    WITH corrupted AS (
      SELECT n_name,
             substr(n_name, 1, 1) || substr(n_name, 3) AS q
      FROM nation),
    cand AS (
      SELECT c.q, c.n_name AS original, n.n_name AS matched_name,
             levenshtein(c.q, n.n_name) AS match_distance
      FROM corrupted c JOIN nation n
        ON abs(length(c.q) - length(n.n_name)) <= 5)
    SELECT q, original, matched_name, CAST(match_distance AS INTEGER) AS match_distance
    FROM cand
    QUALIFY row_number() OVER (PARTITION BY q ORDER BY match_distance, matched_name) = 1
    """,
)
def q41_locality_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locality fuzzy match + argmax (geo/AddressLocalizator.scala:
    27-31,76-95): levenshtein best match with a length-delta candidate
    prefilter, reduced via window top-1."""
    from demy_spark.geo import best_locality_match

    t = _t(spark, sf_dir)
    nation = t["nation"]
    corrupted = nation.select(
        F.col("n_name").alias("original"),
        F.concat(F.substring("n_name", 1, 1), F.expr("substring(n_name, 3)")).alias("q"),
    )
    out = best_locality_match(
        corrupted, nation.select("n_name"), "q", "n_name", max_length_delta=5
    )
    return out.select(
        "q", "original", "matched_name", F.col("match_distance").cast("int")
    )


# ---------------------------------------------------------------------------
# Topic: seeded k-means + tree routing (text/PhraseClustering.scala,
# topic/Node.scala) — iterative, but oracle-checked by unrolling a
# fixed number of Lloyd rounds as CTE chains.
# ---------------------------------------------------------------------------


def _kmeans_round_sql(n: int, cent: str) -> str:
    """One Lloyd round as CTE fragments: cosine-argmax assignment
    against ``cent`` (ties → lowest cluster), then element-wise mean
    centers ``cent{n}``."""
    return f"""
    dot{n} AS (
        SELECT dims.vec_id, c.c, sum(dims.x * c.m) AS dot
        FROM dims JOIN {cent} c ON dims.d = c.d GROUP BY 1, 2),
    cnorm{n} AS (SELECT c, sqrt(sum(m * m)) AS nc FROM {cent} GROUP BY 1),
    assign{n} AS (
        SELECT vec_id, c, sim FROM (
            SELECT d.vec_id, d.c, d.dot / nullif(v.nx * cn.nc, 0) AS sim,
                   row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY d.dot / nullif(v.nx * cn.nc, 0) DESC, d.c ASC) AS rk
            FROM dot{n} d
            JOIN vnorm v ON d.vec_id = v.vec_id
            JOIN cnorm{n} cn ON d.c = cn.c
        ) WHERE rk = 1),
    cent{n} AS (
        SELECT a.c, dims.d, avg(dims.x) AS m
        FROM dims JOIN assign{n} a ON dims.vec_id = a.vec_id GROUP BY 1, 2),"""


_Q42_SQL = (
    """
    WITH dims AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    cent0 AS (
        SELECT label AS c, d, avg(x) AS m FROM dims WHERE label < 4 GROUP BY 1, 2),"""
    + _kmeans_round_sql(1, "cent0")
    + _kmeans_round_sql(2, "cent1")
    + _kmeans_round_sql(3, "cent2")
    + _kmeans_round_sql(4, "cent3")
    + """
    final AS (SELECT * FROM assign4)
    SELECT c::INTEGER AS cluster, count(*) AS n,
           round(avg(sim), 4) + 0.0 AS avg_sim, 3 AS iters
    FROM final GROUP BY 1 ORDER BY 1
    """
)


@register("q42_seeded_kmeans", _Q42_SQL, gate_embeddings=True)
def q42_seeded_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged k-means (PhraseClustering.scala:16-572): seeds from the
    labelled rows' centroids, Lloyd iterations with distributed assign
    + driver-side center update. The DuckDB oracle unrolls the three
    Lloyd iterations (cosine argmax assign → element-wise mean update)
    plus the final assignment as a CTE chain — the random fixture never
    converges within tol in 3 iterations, so the iteration count is a
    constant on both sides."""
    from demy_spark.topic import seed_centers_from_tags, seeded_kmeans

    t = _t(spark, sf_dir)
    emb = _embw(t).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    tags = _embw(t).where(F.col("label") < 4).select(
        "vec_id", F.col("label").cast("string").alias("tag")
    )
    centers = seed_centers_from_tags(emb, "vec_id", "v", tags)
    assigned, _, iters = seeded_kmeans(emb, "vec_id", "v", centers, max_iters=3)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("sim"), 4).alias("avg_sim"))
        .withColumn("iters", F.lit(iters))
        .orderBy("cluster")
    )


@register(
    "q43_topic_tree_walk",
    """
    WITH dims AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    lcent AS (SELECT label, d, avg(x) AS m FROM dims GROUP BY 1, 2),
    gcent AS (SELECT label // 5 AS g, d, avg(m) AS m FROM lcent GROUP BY 1, 2),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    gnorm AS (SELECT g, sqrt(sum(m * m)) AS nc FROM gcent GROUP BY 1),
    lnorm AS (SELECT label, sqrt(sum(m * m)) AS nc FROM lcent GROUP BY 1),
    gdot AS (
        SELECT dims.vec_id, gcent.g, sum(x * m) AS dot
        FROM dims JOIN gcent ON dims.d = gcent.d GROUP BY 1, 2
    ),
    gassign AS (
        SELECT vec_id, g FROM (
            SELECT gd.vec_id, gd.g,
                   row_number() OVER (
                       PARTITION BY gd.vec_id
                       ORDER BY gd.dot / nullif(v.nx * gn.nc, 0) DESC, gd.g ASC
                   ) AS rk
            FROM gdot gd
            JOIN vnorm v ON gd.vec_id = v.vec_id
            JOIN gnorm gn ON gd.g = gn.g
        ) WHERE rk = 1
    ),
    ldot AS (
        SELECT dims.vec_id, lcent.label, sum(x * m) AS dot
        FROM dims
        JOIN gassign ga ON dims.vec_id = ga.vec_id
        JOIN lcent ON dims.d = lcent.d AND lcent.label // 5 = ga.g
        GROUP BY 1, 2
    ),
    lassign AS (
        SELECT vec_id, label FROM (
            SELECT ld.vec_id, ld.label,
                   row_number() OVER (
                       PARTITION BY ld.vec_id
                       ORDER BY ld.dot / nullif(v.nx * ln.nc, 0) DESC, ld.label ASC
                   ) AS rk
            FROM ldot ld
            JOIN vnorm v ON ld.vec_id = v.vec_id
            JOIN lnorm ln ON ld.label = ln.label
        ) WHERE rk = 1
    )
    SELECT 'label' || label::VARCHAR AS topic, count(*) AS n
    FROM lassign GROUP BY 1 ORDER BY 1
    """, gate_embeddings=True)
def q43_topic_tree_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-tree routing (topic/Node.scala:92-126): two-level tree
    built from label centroids; one assign pass per level. The tree is
    round-tripped through the reference's NodeParams artifact shape
    (flat index-linked JSON + VectorIndex-style centers map,
    NodeParams.scala:41-63) before walking, so the artifact loader sits
    on the verified path. The DuckDB oracle recomputes the centroids
    and both cosine-argmax routing levels from first principles
    (integer counts out — no float rounding in the compared values)."""
    from demy_spark.topic import (
        TopicNode,
        seed_centers_from_tags,
        topic_tree_from_params,
        topic_tree_to_params,
        walk_topic_tree,
    )

    t = _t(spark, sf_dir)
    emb = _embw(t).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    tags = _embw(t).select("vec_id", F.col("label").cast("string").alias("tag"))
    centers = seed_centers_from_tags(emb, "vec_id", "v", tags)  # one per label 0..9

    def mean(vs: list[list[float]]) -> list[float]:
        return [sum(col) / len(col) for col in zip(*vs)]

    root = TopicNode(
        "root",
        children=[
            TopicNode(
                f"group{g}",
                center=mean(centers[g * 5 : (g + 1) * 5]),
                children=[
                    TopicNode(f"label{i}", center=centers[i])
                    for i in range(g * 5, (g + 1) * 5)
                ],
            )
            for g in range(2)
        ],
    )
    center_index = {f"group{g}": mean(centers[g * 5 : (g + 1) * 5]) for g in range(2)}
    center_index.update({f"label{i}": centers[i] for i in range(10)})
    rehydrated = topic_tree_from_params(
        topic_tree_to_params(root), centers=center_index
    )
    out = walk_topic_tree(emb, "vec_id", "v", rehydrated)
    return out.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).orderBy("topic")


_Q53_SQL = (
    """
    WITH dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    cent0 AS (SELECT vec_id % 8 AS c, d, avg(x) AS m FROM dims GROUP BY 1, 2),"""
    + _kmeans_round_sql(1, "cent0")
    + _kmeans_round_sql(2, "cent1")
    + _kmeans_round_sql(3, "cent2")
    + _kmeans_round_sql(4, "cent3")
    + """
    probe AS (
        SELECT query_id, c FROM (
            SELECT d4.vec_id AS query_id, d4.c,
                   row_number() OVER (PARTITION BY d4.vec_id
                       ORDER BY d4.dot / nullif(v.nx * cn.nc, 0) DESC, d4.c ASC
                   ) AS rk
            FROM dot4 d4
            JOIN vnorm v ON d4.vec_id = v.vec_id
            JOIN cnorm4 cn ON d4.c = cn.c
            WHERE d4.vec_id < 5
        ) WHERE rk <= 2),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign4 a ON a.c = p.c AND a.vec_id <> p.query_id),
    sims AS (
        SELECT cand.query_id, cand.neighbor_id,
               CASE WHEN nq.nx > 0 AND nb.nx > 0
                    THEN list_cosine_similarity(qa.embedding::DOUBLE[],
                                                qb.embedding::DOUBLE[])
                    ELSE 0 END AS sim
        FROM cand
        JOIN embeddings qa ON cand.query_id = qa.vec_id
        JOIN embeddings qb ON cand.neighbor_id = qb.vec_id
        JOIN vnorm nq ON cand.query_id = nq.vec_id
        JOIN vnorm nb ON cand.neighbor_id = nb.vec_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM sims)
    SELECT query_id, neighbor_id, round(sim, 4) + 0.0 AS sim, rk::INTEGER AS rk
    FROM ranked WHERE rk <= 5
    """
)


@register("q53_ivf_ann_topk", _Q53_SQL, gate_embeddings=True)
def q53_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate nearest neighbors: deterministic coarse
    quantizer (per-``vec_id % 8`` seed means + exactly 3 Lloyd rounds)
    → inverted lists → each query probes its 2 nearest lists → exact
    cosine rerank. The DuckDB oracle unrolls the quantizer training as
    a CTE chain (q42's machinery), then reproduces the probe and the
    rerank — the whole ANN approximation is verified end to end."""
    from demy_spark.operators.similarity import ivf_cosine_topk

    t = _t(spark, sf_dir)
    emb = _embw(t).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return ivf_cosine_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        "embedding",
        "vec_id",
        k=5,
        n_lists=8,
        nprobe=2,
        train_iters=3,
    ).select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rk")


# ---------------------------------------------------------------------------
# Entity dictionary matching + co-occurrence refinement
# (text/EntityCalculator.scala, text/WordCoocurrenceRefiner.scala).
# ---------------------------------------------------------------------------

_ENTITY_DICT = [
    ("join_ops", "join"),
    ("join_ops", "merge"),
    ("scan_ops", "scan"),
    ("scan_ops", "filter"),
    ("agg_ops", "agg"),
    ("agg_ops", "group"),
]

_ENTITY_DICT_SQL = (
    "dict(entity, synonym) AS (VALUES "
    + ", ".join(f"('{e}', '{s}')" for e, s in _ENTITY_DICT)
    + ")"
)


@register(
    "q44_entity_match",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    {_ENTITY_DICT_SQL},
    m AS (
      SELECT t.doc_id, d.entity, d.synonym
      FROM toks t JOIN dict d ON t.tok = d.synonym)
    SELECT entity, synonym, count(*) AS n_matches,
           count(DISTINCT doc_id) AS n_docs
    FROM m GROUP BY entity, synonym
    """,
)
def q44_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity synonym matching (text/EntityCalculator.scala:16-249):
    broadcast dictionary joined against exploded token rows."""
    from demy_spark.entity import match_entities

    t = _t(spark, sf_dir)
    ents = local_frame(spark, _ENTITY_DICT, "entity string, synonym string")
    m = match_entities(t["documents"], "text", "doc_id", ents)
    return m.groupBy("entity", "synonym").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register(
    "q45_entity_cooccurrence",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    {_ENTITY_DICT_SQL},
    m AS (
      SELECT DISTINCT t.doc_id, d.entity, t.tok
      FROM toks t JOIN dict d ON t.tok = d.synonym),
    ent_docs AS (SELECT DISTINCT doc_id, entity FROM m),
    matched_toks AS (SELECT DISTINCT entity, tok FROM m),
    cand AS (
      SELECT e.entity, t.tok, t.doc_id
      FROM ent_docs e JOIN toks t USING (doc_id)
      WHERE NOT EXISTS (
        SELECT 1 FROM matched_toks mt
        WHERE mt.entity = e.entity AND mt.tok = t.tok)),
    counts AS (
      SELECT entity, tok AS candidate, count(DISTINCT doc_id) AS n_docs
      FROM cand GROUP BY entity, tok HAVING count(DISTINCT doc_id) >= 2)
    SELECT entity, candidate, n_docs,
           CAST(row_number() OVER (PARTITION BY entity ORDER BY n_docs DESC, candidate) AS INTEGER) AS rk
    FROM counts
    QUALIFY rk <= 10
    """,
)
def q45_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurring-token synonym proposals (text/
    WordCoocurrenceRefiner.scala:14-130): tokens sharing documents with
    an entity's matches, ranked per entity."""
    from demy_spark.entity import cooccurring_tokens, match_entities

    t = _t(spark, sf_dir)
    ents = local_frame(spark, _ENTITY_DICT, "entity string, synonym string")
    m = match_entities(t["documents"], "text", "doc_id", ents)
    out = cooccurring_tokens(
        t["documents"], "text", "doc_id", m, top_k=10, min_count=2
    )
    return out.withColumn("rk", F.col("rk").cast("int"))


_Q46_SQL = """
    WITH RECURSIVE
    lex(word, tag, emit) AS (VALUES
      ('join','OP',0.8),('join','NOUN',0.2),('scan','OP',0.7),('scan','NOUN',0.3),
      ('filter','OP',0.6),('filter','NOUN',0.4),('table','NOUN',1.0),
      ('query','NOUN',0.7),('query','VERB',0.3),('fast','ADJ',1.0),
      ('slow','ADJ',1.0),('a','DET',1.0),('the','DET',1.0)),
    trans(prev, tag, w) AS (VALUES
      ('^','DET',0.4),('DET','NOUN',0.8),('ADJ','NOUN',0.7),
      ('NOUN','OP',0.5),('OP','NOUN',0.5)),
    tmap AS (SELECT map(list(prev || '|' || tag),
                        list(CAST(w AS DOUBLE))) AS tm FROM trans),
    raw AS (
      SELECT doc_id, unnest(arr) AS tok,
             unnest(generate_series(1, len(arr))) AS pos0
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
            FROM documents WHERE doc_id < 200) d),
    toks0 AS (
      SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS pos
      FROM raw WHERE tok <> ''),
    opts AS (
      SELECT t.doc_id, t.pos,
             coalesce(l.ol, [{'tag': 'UNK', 'emit': CAST(1.0 AS DOUBLE)}]) AS ol
      FROM toks0 t
      LEFT JOIN (SELECT word, list({'tag': tag, 'emit': CAST(emit AS DOUBLE)}) AS ol
                 FROM lex GROUP BY word) l
        ON l.word = t.tok),
    ndocs AS (SELECT doc_id, max(pos) AS n FROM opts GROUP BY 1),
    -- beam state: list of (ns = -score, tags), kept sorted ascending so
    -- natural struct order == (score desc, tags asc) — exactly
    -- beam_tag_tokens' sort key — and sliced to the beam width of 4
    rec(doc_id, pos, beams) AS (
      SELECT doc_id, 0,
             [{'ns': CAST(0.0 AS DOUBLE), 'tags': CAST([] AS VARCHAR[])}]
      FROM ndocs
      UNION ALL
      SELECT r.doc_id, r.pos + 1,
             list_slice(
               list_sort(
                 flatten(list_transform(r.beams, be ->
                   list_transform(o.ol, op ->
                     {'ns': be.ns - ln(op.emit)
                            - ln(coalesce(
                                tm[coalesce(be.tags[len(be.tags)], '^')
                                   || '|' || op.tag][1], 0.01)),
                      'tags': list_append(be.tags, op.tag)})))),
               1, 4)
      FROM rec r
      JOIN opts o ON o.doc_id = r.doc_id AND o.pos = r.pos + 1
      CROSS JOIN tmap),
    final AS (
      SELECT r.doc_id, r.beams[1].tags AS tags
      FROM rec r JOIN ndocs n ON n.doc_id = r.doc_id AND r.pos = n.n)
    SELECT tag, count(*) AS n
    FROM (SELECT unnest(tags) AS tag FROM final)
    GROUP BY tag ORDER BY tag
"""


@register("q46_pos_tag", _Q46_SQL)
def q46_pos_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-search POS tagging (text/GramTag.scala:83-344, search/
    PTree.scala:6-68): broadcast lexicon + Arrow-batched pandas UDF,
    beam width 4. NOW fully oracle-backed: the DuckDB oracle carries
    the beam — a sorted list of (−score, tags) structs — through a
    recursive CTE, expanding with the same lexicon/transition scores
    (log-additive, default transition 0.01) and the same
    (score desc, tags asc) tie-break, then slicing to width 4; final
    answer = best surviving beam, rolled up by tag."""
    from demy_spark.postag import pos_tag

    t = _t(spark, sf_dir)
    lexicon = {
        "join": {"OP": 0.8, "NOUN": 0.2},
        "scan": {"OP": 0.7, "NOUN": 0.3},
        "filter": {"OP": 0.6, "NOUN": 0.4},
        "table": {"NOUN": 1.0},
        "query": {"NOUN": 0.7, "VERB": 0.3},
        "fast": {"ADJ": 1.0},
        "slow": {"ADJ": 1.0},
        "a": {"DET": 1.0},
        "the": {"DET": 1.0},
    }
    transitions = {
        ("^", "DET"): 0.4,
        ("DET", "NOUN"): 0.8,
        ("ADJ", "NOUN"): 0.7,
        ("NOUN", "OP"): 0.5,
        ("OP", "NOUN"): 0.5,
    }
    toks = textstats.norm_tokens(F.col("text"))
    docs = (
        t["documents"]
        .where(F.col("doc_id") < 200)  # deterministic (limit() is not)
        .select("doc_id", toks.alias("toks"))
    )
    tagged = pos_tag(docs, "toks", lexicon, transitions)
    return (
        tagged.select(F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tag")
    )


@register(
    "q66_pos_tag_greedy",
    """
    WITH RECURSIVE
    lex(word, tag, emit) AS (VALUES
      ('join','OP',0.8),('join','NOUN',0.2),('scan','OP',0.7),('scan','NOUN',0.3),
      ('filter','OP',0.6),('filter','NOUN',0.4),('table','NOUN',1.0),
      ('query','NOUN',0.7),('query','VERB',0.3),('fast','ADJ',1.0),
      ('slow','ADJ',1.0),('a','DET',1.0),('the','DET',1.0)),
    trans(prev, tag, w) AS (VALUES
      ('^','DET',0.4),('DET','NOUN',0.8),('ADJ','NOUN',0.7),
      ('NOUN','OP',0.5),('OP','NOUN',0.5)),
    prevs(p) AS (SELECT DISTINCT tag FROM lex UNION SELECT 'UNK' UNION SELECT '^'),
    choice AS (
      SELECT prev, word, tag FROM (
        SELECT pv.p AS prev, l.word, l.tag,
               row_number() OVER (PARTITION BY pv.p, l.word
                                  ORDER BY l.emit * coalesce(t.w, 0.01) DESC, l.tag) AS rk
        FROM prevs pv CROSS JOIN lex l
        LEFT JOIN trans t ON t.prev = pv.p AND t.tag = l.tag)
      WHERE rk = 1),
    raw AS (
      SELECT doc_id, unnest(arr) AS tok, unnest(generate_series(1, len(arr))) AS pos0
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
            FROM documents WHERE doc_id % 5 = 0) d),
    toks AS (
      SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos0) AS pos
      FROM raw WHERE tok <> ''),
    state(doc_id, pos, tag) AS (
      SELECT t.doc_id, t.pos, coalesce(c.tag, 'UNK')
      FROM toks t LEFT JOIN choice c ON c.prev = '^' AND c.word = t.tok
      WHERE t.pos = 1
      UNION ALL
      SELECT s.doc_id, t.pos, coalesce(c.tag, 'UNK')
      FROM state s
      JOIN toks t ON t.doc_id = s.doc_id AND t.pos = s.pos + 1
      LEFT JOIN choice c ON c.prev = s.tag AND c.word = t.tok)
    SELECT tag, count(*) AS n FROM state GROUP BY tag
    """,
)
def q66_pos_tag_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy POS decode, fully value-verified: with beam width 1 the
    per-token choice depends only on (prev_tag, word), so the decode
    becomes a broadcast decision map folded over the token array with
    ``F.aggregate`` — whole-stage codegen runs the walk, no UDF, no
    shuffle until the tag rollup. The DuckDB oracle rebuilds the same
    decision table and replays the walk as a recursive CTE. (q46 keeps
    the full beam-search tagger; this is its SQL-checkable core.)"""
    from demy_spark.postag import pos_tag_greedy

    t = _t(spark, sf_dir)
    lexicon = {
        "join": {"OP": 0.8, "NOUN": 0.2},
        "scan": {"OP": 0.7, "NOUN": 0.3},
        "filter": {"OP": 0.6, "NOUN": 0.4},
        "table": {"NOUN": 1.0},
        "query": {"NOUN": 0.7, "VERB": 0.3},
        "fast": {"ADJ": 1.0},
        "slow": {"ADJ": 1.0},
        "a": {"DET": 1.0},
        "the": {"DET": 1.0},
    }
    transitions = {
        ("^", "DET"): 0.4,
        ("DET", "NOUN"): 0.8,
        ("ADJ", "NOUN"): 0.7,
        ("NOUN", "OP"): 0.5,
        ("OP", "NOUN"): 0.5,
    }
    toks = textstats.norm_tokens(F.col("text"))
    docs = (
        t["documents"]
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", toks.alias("toks"))
    )
    tagged = pos_tag_greedy(docs, "toks", lexicon, transitions)
    return (
        tagged.select(F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- q47: deterministic-replay GA -----------------------------------------
# The draw sequence is a pure function of the seed — a fixture, like q70's
# frozen weights — so every stochastic choice (initial population, parents,
# gene flips, mutations) is a compile-time constant here; only fitness,
# ranking, and elite selection depend on data and are replayed in SQL.
_Q47_K, _Q47_POP, _Q47_ELITE, _Q47_GENS, _Q47_POOL = 3, 6, 3, 3, 64


def _q47_plan():
    import random

    rng = random.Random(7)
    draws = [rng.random() for _ in range(_Q47_POP * _Q47_K + _Q47_GENS * 3 * 8)]
    it = iter(draws)
    init = [
        [int(next(it) * _Q47_POOL) for _ in range(_Q47_K)]
        for _ in range(_Q47_POP)
    ]
    gens = []
    for _ in range(_Q47_GENS):
        childs = []
        for _ in range(_Q47_POP - _Q47_ELITE):
            da = int(next(it) * _Q47_ELITE)
            db0 = int(next(it) * (_Q47_ELITE - 1))
            db = db0 + 1 if db0 >= da else db0
            flags = [next(it) < 0.5 for _ in range(_Q47_K)]
            gate, posd, poold = next(it), next(it), next(it)
            childs.append(
                (da, db, flags, gate < 0.25, int(posd * _Q47_K),
                 int(poold * _Q47_POOL))
            )
        gens.append(childs)
    return draws, init, gens


_Q47_DRAWS, _Q47_INIT, _Q47_GENS_PLAN = _q47_plan()


def _q47_gen_sql(g: int) -> str:
    children = []
    for c, (da, db, flags, mutated, pos, pick) in enumerate(_Q47_GENS_PLAN[g]):
        for j in range(_Q47_K):
            if mutated and pos == j:
                gene = str(pick)
            else:
                parent = da if flags[j] else db
                gene = (
                    f"(SELECT pi FROM elite{g} WHERE es = {parent} AND j = {j})"
                )
            children.append(
                f"SELECT {_Q47_ELITE + c} AS s, {j} AS j, {gene} AS pi"
            )
    union_children = "\n          UNION ALL ".join(children)
    return f"""
    fit{g} AS MATERIALIZED (
        SELECT s, round(avg(m), 9) AS fit
        FROM (SELECT sims.doc, p.s, max(sims.sim) AS m
              FROM pop{g} p JOIN sims ON sims.pi = p.pi
              GROUP BY 1, 2)
        GROUP BY s),
    rnk{g} AS MATERIALIZED (
        SELECT s, fit,
               row_number() OVER (ORDER BY fit DESC, s ASC) - 1 AS r
        FROM fit{g}),
    elite{g} AS MATERIALIZED (
        SELECT r.r AS es, p.j, p.pi
        FROM pop{g} p JOIN rnk{g} r USING (s) WHERE r.r < {_Q47_ELITE}),
    pop{g + 1} AS MATERIALIZED (
        SELECT es AS s, j, pi FROM elite{g}
        UNION ALL {union_children}),"""


_Q47_SQL = (
    """
    WITH pool AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY (vec_id * 48271) % 65537,
                                  vec_id) - 1 AS pi
        FROM embeddings QUALIFY pi < """
    + str(_Q47_POOL)
    + """),
    dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    vn AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM dims GROUP BY 1),
    pdims AS (SELECT p.pi, d.d, d.x FROM pool p JOIN dims d USING (vec_id)),
    pn AS (SELECT pi, sqrt(sum(x * x)) AS n FROM pdims GROUP BY 1),
    sims AS MATERIALIZED (
        SELECT dd.doc, dd.pi, dd.dot / nullif(v.n * pn.n, 0) AS sim
        FROM (SELECT d.vec_id AS doc, pd.pi, sum(d.x * pd.x) AS dot
              FROM dims d JOIN pdims pd ON pd.d = d.d
              GROUP BY 1, 2) dd
        JOIN vn v ON v.vec_id = dd.doc
        JOIN pn ON pn.pi = dd.pi),
    pop0(s, j, pi) AS (VALUES """
    + ", ".join(
        f"({s}, {j}, {pi})"
        for s, genes in enumerate(_Q47_INIT)
        for j, pi in enumerate(genes)
    )
    + "),"
    + "".join(_q47_gen_sql(g) for g in range(_Q47_GENS))
    + f"""
    fit{_Q47_GENS} AS MATERIALIZED (
        SELECT s, round(avg(m), 9) AS fit
        FROM (SELECT sims.doc, p.s, max(sims.sim) AS m
              FROM pop{_Q47_GENS} p JOIN sims ON sims.pi = p.pi
              GROUP BY 1, 2)
        GROUP BY s),
    rnk{_Q47_GENS} AS MATERIALIZED (
        SELECT s, fit,
               row_number() OVER (ORDER BY fit DESC, s ASC) - 1 AS r
        FROM fit{_Q47_GENS})
    """
    + " UNION ALL ".join(
        f"SELECT {g} AS generation, "
        f"round((SELECT fit FROM rnk{g} WHERE r = 0), 6) + 0.0 "
        f"AS best_fitness, {_Q47_K} AS k"
        for g in range(_Q47_GENS + 1)
    )
)


@register("q47_genetic_prototypes", _Q47_SQL, gate_embeddings=True)
def q47_genetic_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genetic prototype selection (topic/TopicTree.scala:210-356,
    432-530) in deterministic-replay form: population = pool indices,
    seed-derived draw fixture, fitness = one Spark job per generation
    (genetic.score_population's broadcast explode/argmax plan). NOW
    fully oracle-backed: every draw-derived choice is a compile-time
    constant in the generated SQL, and DuckDB replays the data-
    dependent parts — per-set fitness, 9dp-rounded ranking, elite
    selection, and the child gene lookups — generation by generation."""
    from demy_spark.genetic import evolve_prototypes_replay

    t = _t(spark, sf_dir)
    emb = _embw(t).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    best, fit, history = evolve_prototypes_replay(
        emb,
        "vec_id",
        "v",
        k=_Q47_K,
        pop_size=_Q47_POP,
        generations=_Q47_GENS,
        draws=_Q47_DRAWS,
        pool_size=_Q47_POOL,
    )
    return local_frame(
        spark,
        [(g, round(score, 6) + 0.0, len(best)) for g, score in enumerate(history)],
        "generation int, best_fitness double, k int",
    )


@register(
    "q48_simplify_text",
    """
    WITH synth AS (
      SELECT n_nationkey,
             'L''Hôpital Général d''Été — ' || n_name AS s
      FROM nation)
    SELECT n_nationkey,
           translate(regexp_replace(regexp_replace(lower(s), 'l''', '  ', 'g'),
                                    'd''', '  ', 'g'),
                     'àáâãäåæèéêëœìíîïðñòóôõöøùúûüç-''',
                     'aaaaaaaeeeeeiiiioooooooouuuuc  ') AS simplified
    FROM synth
    """,
)
def q48_simplify_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simplify_text parity (text/Word.scala:34-55): accent folding +
    French elision blanking as codegen'd translate/regexp chains,
    oracle-checked char-for-char against DuckDB's translate."""
    from demy_spark.functions.text import simplify_text

    t = _t(spark, sf_dir)
    s = F.concat(F.lit("L'Hôpital Général d'Été — "), F.col("n_name"))
    return t["nation"].select(
        "n_nationkey", simplify_text(s).alias("simplified")
    )


@register(
    "q49_sentence_split",
    """
    WITH d AS (
        SELECT doc_id, coalesce(length(text), 0) AS total_chars,
               coalesce(len(list_filter(string_split(trim(lower(text)), ' '),
                                        x -> x <> '')), 0) AS n
        FROM documents
    ),
    m AS (SELECT doc_id, total_chars, n,
                 cast(ceil(n / 14.0) AS BIGINT) AS chunks
          FROM d)
    SELECT doc_id,
           -- a zero-word document is still ONE sentence: the splitter
           -- preserves every character, so ''/whitespace/NULL text
           -- yields a single (possibly empty) phrase (degenerate-fuzz)
           (CASE WHEN n = 0 THEN 1
                 WHEN chunks > 1 AND n - 14 * (chunks - 1) < 2
                 THEN chunks - 1 ELSE chunks END) AS n_sentences,
           total_chars::BIGINT AS total_chars
    FROM m
    """,
)
def q49_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence splitting + posexplode (text/SentenceBuilder.scala:
    23-80): pandas-UDF stateful char scan preserving every character,
    exploded to (doc, phrase_id) rows and re-aggregated per doc.

    The oracle exploits that the fixture text is punctuation-free
    single-spaced words, where the splitter's semantics reduce to a
    closed form: run-on breaks every max_phrase_size+2 = 14 words, and
    a trailing chunk under min_phrase_size words merges backwards
    (validated against the Python splitter for 1..60 words; the
    general char-scan paths — hard/soft breaks, pronoun starts — are
    golden-tested in tests/test_text_functions.py)."""
    from demy_spark.functions.text import split_sentences

    t = _t(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", split_sentences(F.col("text"), 2, 12).alias("sentences")
    )
    return (
        docs.select("doc_id", F.posexplode("sentences").alias("phrase_id", "sentence"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.length("sentence")).alias("total_chars"),
        )
    )


@register(
    "q50_fuzzy_typos",
    """
    WITH dtoks AS (
        SELECT doc_id,
               list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dict AS (
        SELECT array_to_string(toks[1:2], ' ') AS phrase, min(doc_id) AS entity_id
        FROM dtoks WHERE doc_id % 29 = 0 AND len(toks) >= 2
        GROUP BY 1
    ),
    probes AS (
        SELECT doc_id,
               regexp_replace(array_to_string(toks[1:2], ' '),
                              '([aeiou])', '', 'g') AS typo_phrase
        FROM dtoks WHERE doc_id % 61 = 0 AND len(toks) >= 2
    ),
    postings AS (
        SELECT phrase, entity_id, tok, count(*) AS tf
        FROM (SELECT phrase, entity_id,
                     unnest(string_split(phrase, ' ')) AS tok FROM dict)
        GROUP BY 1, 2, 3
    ),
    dls AS (SELECT phrase, len(string_split(phrase, ' ')) AS dl FROM dict),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
    dfs AS (SELECT tok, count(DISTINCT phrase) AS df FROM postings GROUP BY 1),
    qtoks AS (
        SELECT doc_id, typo_phrase, tok, count(*) AS qn
        FROM (SELECT doc_id, typo_phrase,
                     unnest(list_filter(string_split(typo_phrase, ' '),
                                        x -> x <> '')) AS tok
              FROM probes)
        GROUP BY 1, 2, 3
    ),
    cand AS (
        SELECT q.doc_id, q.typo_phrase, q.tok, q.qn, p.phrase, p.entity_id,
               CASE WHEN q.tok = p.tok THEN 4.0
                    ELSE 1.0 - levenshtein(q.tok, p.tok) / length(q.tok) END
               * ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS c
        FROM qtoks q
        JOIN postings p
          ON q.tok = p.tok
          OR (length(q.tok) > 2 AND q.tok <> p.tok
              AND levenshtein(q.tok, p.tok) <= 2)
        JOIN dfs f ON p.tok = f.tok
        JOIN dls l ON p.phrase = l.phrase
        CROSS JOIN stats s
    ),
    best_c AS (
        SELECT doc_id, typo_phrase, tok, qn, phrase, entity_id, max(c) AS mc
        FROM cand GROUP BY 1, 2, 3, 4, 5, 6
    ),
    scored AS (
        SELECT doc_id, typo_phrase, phrase, entity_id, sum(qn * mc) AS score
        FROM best_c GROUP BY 1, 2, 3, 4
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY round(score, 6) DESC, entity_id) AS rk
        FROM scored WHERE score >= 0.1
    )
    SELECT doc_id, typo_phrase, phrase, entity_id,
           round(CAST(CAST(score AS REAL) AS DOUBLE), 2) + 0.0 AS score
    FROM ranked WHERE rk = 1
    """,
)
def q50_fuzzy_typos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (Levenshtein) path of the flagship lookup at corpus scale:
    probes are corrupted two-token phrases (vowels dropped from the
    leading tokens), matched back against the clean phrase dictionary
    through SymSpell delete-variant blocking (index/IndexStrategy.scala
    fuzzy terms; NO exact token needed). Oracle = brute-force
    Levenshtein join computing the same documented BM25-style score;
    `tie_break_cols` makes the top-1 deterministic on both sides."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        t["documents"]
        .where((F.col("doc_id") % 29 == 0) & (F.size(toks) >= 2))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 2)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
        )
        .groupBy("phrase")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    probes = (
        t["documents"]
        .where((F.col("doc_id") % 61 == 0) & (F.size(toks) >= 2))
        .select(
            "doc_id",
            # drop every vowel from the two-token probe phrase
            F.regexp_replace(
                F.concat_ws(" ", F.slice(toks, 1, 2)), r"([aeiou])", ""
            ).alias("typo_phrase"),
        )
    )
    out = fuzzy_lookup(
        probes,
        dictionary,
        "typo_phrase",
        "phrase",
        max_lev_distance=2,
        min_score=0.1,
        top_k=1,
        tie_break_cols=("entity_id",),
    )
    return out.where(F.col("phrase").isNotNull()).select(
        "doc_id",
        "typo_phrase",
        "phrase",
        "entity_id",
        (F.round(F.col("_score_").cast("double"), 2) + F.lit(0.0)).alias("score"),
    )


@register(
    "q51_fuzzy_standard",
    """
    WITH dtoks AS (
        SELECT doc_id,
               list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dict AS (
        SELECT array_to_string(toks[1:3], ' ') AS phrase, min(doc_id) AS entity_id
        FROM dtoks WHERE doc_id % 97 = 0 AND len(toks) >= 3
        GROUP BY 1
    ),
    postings AS (
        SELECT phrase, entity_id, tok, count(*) AS tf
        FROM (SELECT phrase, entity_id,
                     unnest(string_split(phrase, ' ')) AS tok FROM dict)
        GROUP BY 1, 2, 3
    ),
    dls AS (SELECT phrase, len(string_split(phrase, ' ')) AS dl FROM dict),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
    dfs AS (SELECT tok, count(DISTINCT phrase) AS df FROM postings GROUP BY 1),
    qtoks AS (
        SELECT doc_id, tok, count(*) AS qn
        FROM (SELECT doc_id, unnest(toks) AS tok
              FROM dtoks WHERE doc_id % 10 = 0)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT q.doc_id, p.phrase, p.entity_id,
               sum(q.qn * 4.0
                   * ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2)
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))) AS score
        FROM qtoks q
        JOIN postings p ON q.tok = p.tok
        JOIN dfs f ON p.tok = f.tok
        JOIN dls l ON p.phrase = l.phrase
        CROSS JOIN stats s
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY round(score, 6) DESC, entity_id) AS rk
        FROM scored WHERE score >= 1.0
    )
    SELECT doc_id, phrase, entity_id, round(CAST(CAST(score AS REAL) AS DOUBLE), 2) + 0.0 AS score
    FROM ranked WHERE rk = 1
    """,
)
def q51_fuzzy_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardStrategy path of the flagship lookup
    (index/IndexStrategy.scala:69-126): the whole document is one bag
    of terms probed against a 3-token phrase dictionary; top-1 by the
    documented BM25-style score. The DuckDB oracle recomputes the exact
    score (idf, length-normalized tf, exact boost) from first
    principles — value-level parity, not just ranking parity."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        t["documents"]
        .where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 3))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
        )
        .groupBy("phrase")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    probes = t["documents"].where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    out = fuzzy_lookup(
        probes,
        dictionary,
        "text",
        "phrase",
        max_lev_distance=0,
        min_score=1.0,
        top_k=1,
        tie_break_cols=("entity_id",),
    )
    return out.where(F.col("phrase").isNotNull()).select(
        "doc_id",
        "phrase",
        "entity_id",
        (F.round(F.col("_score_").cast("double"), 2) + F.lit(0.0)).alias("score"),
    )


@register(
    "q52_word_categories",
    """
    WITH toks AS (
        SELECT lang, source,
               unnest(list_filter(string_split(trim(lower(text)), ' '),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    tf AS (SELECT lang, source, tok, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
    ntags AS (SELECT lang, count(DISTINCT source) AS n_tags FROM toks GROUP BY 1),
    dfs AS (SELECT lang, tok, count(*) AS df FROM tf GROUP BY 1, 2),
    shared AS (
        SELECT lang, source, tok,
               CASE WHEN tot <> 0 THEN tfidf / tot END AS share
        FROM (
            SELECT t.lang, t.source, t.tok,
                   t.tf * ln(n.n_tags / d.df) AS tfidf,
                   sum(t.tf * ln(n.n_tags / d.df))
                     OVER (PARTITION BY t.lang, t.source) AS tot
            FROM tf t
            JOIN dfs d ON t.lang = d.lang AND t.tok = d.tok
            JOIN ntags n ON t.lang = n.lang
        )
    ),
    flagged AS (
        SELECT *,
               max(share) OVER (PARTITION BY lang, tok) AS mx,
               count(*) OVER (PARTITION BY lang, tok) AS n_tags_with
        FROM shared
    ),
    survivors AS (
        SELECT lang, source, tok, share
        FROM flagged f
        WHERE share = mx
          AND 1 = (SELECT count(*) FROM flagged g
                   WHERE g.lang = f.lang AND g.tok = f.tok AND g.share = g.mx)
    ),
    ranked AS (
        SELECT lang, source, tok AS token, share,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY share DESC, tok ASC) AS rk
        FROM survivors
    )
    SELECT lang, source, token, round(share, 4) + 0.0 AS share, rk::INTEGER AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def q52_word_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCategoryScorer parity (text/WordCategoryScorer.scala:14-131):
    the 10 tokens most characteristic of each document source within a
    language — per-tag tf·idf share with cross-tag elimination (a token
    proposed for at most one source; exact score ties eliminate it)."""
    from demy_spark.entity import score_word_categories

    t = _t(spark, sf_dir)
    out = score_word_categories(t["documents"], "text", "lang", "source", top_k=10)
    return out.select(
        "lang",
        "source",
        "token",
        (F.round(F.col("share"), 4) + F.lit(0.0)).alias("share"),
        F.col("rk").cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): as-of join, range join,
# multi-grain rollup — Spark-native extensions past the reference's
# hand-rolled hourly capture (twitter/Execute.scala:58-98).
# ---------------------------------------------------------------------------


@register(
    "q55_asof_join",
    """
    WITH m AS (
      -- LEFT joins throughout: the operator keeps unmatched left
      -- rows with NULL right columns (pandas merge_asof semantics) —
      -- inner joins here silently dropped them until an orders
      -- fixture had users with no qualifying order (multi-table
      -- degenerate fuzz, r8)
      SELECT e.event_id, e.user_id, e.ts, max(o.o_orderdate) AS asof_ts
      FROM events e LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      GROUP BY 1, 2, 3),
    pick AS (
      SELECT m.event_id, m.user_id, m.ts, m.asof_ts,
             max(o.o_orderkey) AS last_orderkey
      FROM m LEFT JOIN orders o
        ON o.o_custkey = m.user_id AND o.o_orderdate = m.asof_ts
      GROUP BY 1, 2, 3, 4)
    SELECT p.event_id, p.user_id, p.last_orderkey,
           round(o.o_totalprice, 2) + 0.0 AS last_order_price,
           CAST(floor(date_diff('second', p.asof_ts, p.ts) / 86400.0) AS BIGINT)
             AS order_age_days
    FROM pick p LEFT JOIN orders o ON o.o_orderkey = p.last_orderkey
    """,
)
def q55_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks the user's latest order at
    or before the event time. The engine path is union + carry-forward
    window (ONE shuffle on user key, output never wider than
    |events|+|orders|); the oracle recomputes it as the naive
    join→argmax, which the operator exists to avoid at scale."""
    from demy_spark.operators.temporal import asof_join

    t = _t(spark, sf_dir)
    ev = t["events"].select("event_id", F.col("user_id"), "ts")
    orders = t["orders"].select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    j = asof_join(
        ev,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        (F.round("o_totalprice", 2) + F.lit(0.0)).alias("last_order_price"),
        F.floor(
            (F.col("ts").cast("long") - F.col("matched_ts").cast("long")) / 86400.0
        )
        .cast("long")
        .alias("order_age_days"),
    )


@register(
    "q56_range_join",
    """
    SELECT r.event_id AS incident_id, count(*) AS n_events,
           sum(CAST(floor(l.value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events r JOIN events l
      ON l.user_id = r.user_id
     AND l.ts >= r.ts AND l.ts < r.ts + INTERVAL 1 HOUR
     AND l.event_id <> r.event_id
    WHERE r.event_type = 'error'
    GROUP BY 1
    """,
)
def q56_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: every error event opens a 1-hour incident
    window; count the same user's other events inside it. Co-keyed on
    user_id so the range predicate is a residual on one shuffled join —
    no interval explosion (the keyless bucket-grid path is
    range_join(on=None), exercised in tests/test_temporal.py)."""
    from demy_spark.operators.temporal import range_join

    t = _t(spark, sf_dir)
    ev = t["events"]
    points = ev.select(
        "user_id", F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts"), "value"
    )
    incidents = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    j = range_join(
        points,
        incidents,
        left_point="e_ts",
        right_start="w_start",
        right_end="w_end",
        on="user_id",
    ).where(F.col("e_id") != F.col("incident_id"))
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return j.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents) / 100.0).alias("total_value"),
    )


@register(
    "q57_time_rollup",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS tv
      FROM events GROUP BY 1, 2),
    daily AS (
      SELECT date_trunc('day', bucket) AS bucket, event_type,
             sum(n) AS n, sum(tv) AS tv
      FROM hourly GROUP BY 1, 2),
    hspan AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
              FROM hourly GROUP BY 1),
    hgrid AS (SELECT event_type,
                     unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
              FROM hspan),
    dspan AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
              FROM daily GROUP BY 1),
    dgrid AS (SELECT event_type,
                     unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
              FROM dspan)
    SELECT 'hour' AS grain, g.bucket, g.event_type,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n,
           coalesce(h.tv, 0) / 100.0 AS total_value
    FROM hgrid g LEFT JOIN hourly h USING (event_type, bucket)
    UNION ALL
    SELECT 'day' AS grain, g.bucket, g.event_type,
           CAST(coalesce(d.n, 0) AS BIGINT) AS n,
           coalesce(d.tv, 0) / 100.0 AS total_value
    FROM dgrid g LEFT JOIN daily d USING (event_type, bucket)
    """,
)
def q57_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour + day grains with
    gap fill. The raw events scan happens ONCE (hourly partials are
    persisted); the day grain re-aggregates the hourly partials
    (sum-of-sums), so each coarser grain costs a shuffle of an
    already-small frame — the TimescaleDB rollup shape.

    Money is summed as exact integer cents so the rollup is
    deterministic: a double sum's partial-aggregation order varies
    run-to-run, and a total near a .005 boundary can round either way
    (the round-2 driver caught exactly that)."""
    from demy_spark.operators.temporal import time_rollup

    t = _t(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    out = time_rollup(
        t["events"],
        ts="ts",
        grains=["hour", "day"],
        group_by=["event_type"],
        metrics={"n": F.count(F.lit(1)), "total_value": F.sum(cents)},
        fill_gaps=True,
    )
    return out.select(
        "grain",
        "bucket",
        "event_type",
        "n",
        (F.col("total_value") / 100.0).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Sketches + deterministic sampling (operators/sketches.py, sampling.py):
# approximate operators whose hash formulas are SQL-reproducible, so even
# the APPROXIMATE answers are oracle-verified value-for-value.
# ---------------------------------------------------------------------------


@register(
    "q58_hll_distinct",
    """
    WITH h AS (
      SELECT l_returnflag,
             ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
               AS hash
      FROM lineitem),
    rho AS (
      SELECT l_returnflag, hash & 255 AS bkt,
             CASE WHEN (hash >> 8) = 0 THEN 53
                  ELSE 52 - length(bin(hash >> 8)) + 1 END AS rho
      FROM h),
    regs AS (
      SELECT l_returnflag, bkt, max(rho) AS r FROM rho GROUP BY 1, 2),
    agg AS (
      SELECT l_returnflag, sum(pow(2.0, -r)) AS s, count(*) AS present
      FROM regs GROUP BY 1),
    est AS (
      SELECT l_returnflag,
             (0.7213 / (1 + 1.079 / 256)) * 65536.0 / (s + (256 - present))
               AS e_raw,
             256 - present AS v
      FROM agg)
    SELECT l_returnflag,
           round(CASE WHEN e_raw <= 640.0 AND v > 0
                      THEN 256.0 * ln(256.0 / v) ELSE e_raw END, 2) + 0.0
             AS est_distinct
    FROM est
    """,
)
def q58_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog (p=8) distinct orders per returnflag.
    Spark's approx_count_distinct is unverifiable externally (private
    seeds); this sketch's md5-slice registers are recomputed register-
    for-register by the oracle — an APPROXIMATE answer with an EXACT
    correctness check. One narrow shuffle; the estimate math runs on
    256 rows per group regardless of data size."""
    from demy_spark.operators.sketches import hll_distinct

    t = _t(spark, sf_dir)
    out = hll_distinct(t["lineitem"], "l_orderkey", ["l_returnflag"], p=8)
    return out.select(
        "l_returnflag", (F.col("est_distinct") + F.lit(0.0)).alias("est_distinct")
    )


@register(
    "q59_heavy_hitters",
    f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS t FROM documents),
    tf AS (SELECT t, count(*) AS tf FROM toks GROUP BY 1),
    hashed AS (
      SELECT t, tf,
             ('0x' || substring(md5(t), 1, 15))::BIGINT AS h1,
             ('0x' || substring(md5(t), 16, 8))::BIGINT & 2147483647 AS h2
      FROM tf),
    cmrows AS (
      SELECT t, tf, i, (h1 + i * h2) % 1024 AS bkt
      FROM hashed, (SELECT unnest([0, 1, 2, 3]) AS i)),
    counters AS (SELECT i, bkt, sum(tf) AS c FROM cmrows GROUP BY 1, 2),
    est AS (
      SELECT t, tf, min(c) AS est
      FROM cmrows JOIN counters USING (i, bkt) GROUP BY 1, 2)
    SELECT t AS key, CAST(est AS BIGINT) AS est, CAST(tf AS BIGINT) AS tf,
           CAST(est - tf AS BIGINT) AS overcount
    FROM est ORDER BY est DESC, key ASC LIMIT 20
    """,
)
def q59_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens via a 4x1024 count-min sketch
    (Kirsch-Mitzenmacher seeds from two md5 slices). All-integer
    arithmetic: the oracle rebuilds every counter exactly, so the
    sketch's overcounts themselves are verified. The counter table is
    4096 rows at any corpus size."""
    from demy_spark.operators.sketches import countmin_heavy_hitters

    t = _t(spark, sf_dir)
    toks = t["documents"].select(
        F.explode(
            textstats.norm_tokens(F.col("text"))
        ).alias("tok")
    )
    return countmin_heavy_hitters(toks, "tok", depth=4, width=1024, top_k=20)


@register(
    "q60_stratified_sample",
    """
    WITH rated AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 0.2 WHEN 'zh' THEN 0.3
                       WHEN 'es' THEN 0.5 WHEN 'de' THEN 0.5
                       WHEN 'fr' THEN 0.5 ELSE 0.0 END AS rate
      FROM documents),
    s AS (
      SELECT doc_id, lang FROM rated
      WHERE ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < rate),
    tot AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
    samp AS (
      SELECT lang, count(*) AS n_sampled, sum(doc_id) AS checksum
      FROM s GROUP BY 1)
    SELECT t.lang, t.n_total, samp.n_sampled,
           round(samp.n_sampled / t.n_total, 4) + 0.0 AS realized_rate,
           CAST(samp.checksum AS BIGINT) AS checksum
    FROM tot t JOIN samp USING (lang)
    """,
)
def q60_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli downsampling (Knuth-hash
    unit interval < per-stratum rate) — the corpus-balancing step of a
    training-data pipeline, reproducible row-for-row on any engine.
    The sample filter is a pure narrow predicate (zero shuffles);
    only this summary aggregates."""
    from demy_spark.operators.sampling import stratified_sample

    t = _t(spark, sf_dir)
    docs = t["documents"]
    rates = {"en": 0.2, "zh": 0.3, "es": 0.5, "de": 0.5, "fr": 0.5}
    s = stratified_sample(docs, "doc_id", "lang", rates)
    tot = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    samp = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"), F.sum("doc_id").alias("checksum")
    )
    return tot.join(samp, on="lang").select(
        "lang",
        "n_total",
        "n_sampled",
        (F.round(F.col("n_sampled") / F.col("n_total"), 4) + F.lit(0.0)).alias(
            "realized_rate"
        ),
        F.col("checksum").cast("long").alias("checksum"),
    )


@register(
    "q61_bottom_k_sample",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                        doc_id) AS rk
      FROM documents)
    SELECT doc_id, lang FROM ranked WHERE rk <= 15
    """,
)
def q61_bottom_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per stratum: the 15 smallest-hash docs
    per language (bottom-k / KMV). Stable under appends and mergeable
    across partitions — the property that lets a 1000-executor job
    sample per-partition and merge. WindowGroupLimit caps each map
    partition at k rows before the single stratum shuffle."""
    from demy_spark.operators.sampling import bottom_k_sample

    t = _t(spark, sf_dir)
    return bottom_k_sample(t["documents"], "doc_id", "lang", 15).select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# Skew mitigation (operators/skew.py): the oracle verifies that the
# salted plans produce EXACTLY the plain join/agg results.
# ---------------------------------------------------------------------------


@register(
    "q62_skew_join",
    """
    SELECT c.c_mktsegment, count(*) AS n_events,
           sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def q62_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid skew-aware join: the hot user_ids are salted across 4
    reducers (right side replicated only for those keys), the tail
    joins plainly, and the union aggregates. Output is provably the
    plain join — which is exactly what the oracle checks."""
    from demy_spark.operators.skew import skew_aware_join

    t = _t(spark, sf_dir)
    ev = t["events"].select("user_id", "value")
    cust = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = skew_aware_join(ev, cust, "user_id", hot=list(range(8)), salts=4)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents) / 100.0).alias("total_value"),
    )


@register(
    "q63_salted_agg",
    """
    SELECT event_type, count(*) AS n,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value,
           count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY 1
    """,
)
def q63_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over event_type — 5 values, the
    textbook skewed group key. Phase 1 reduces each hot key on 32
    salted reducers (including the collect_set buffer, which Spark's
    map-side partial agg can NOT combine early when it grows wide);
    phase 2 merges 5x32 partial rows. The oracle is the direct
    single-phase aggregation."""
    from demy_spark.operators.skew import salted_agg

    t = _t(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    out = salted_agg(
        t["events"].select("event_type", "value", "user_id"),
        "event_type",
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "total_value": (F.sum(cents), F.sum("total_value")),
            "distinct_users": (
                F.collect_set("user_id"),
                F.size(F.array_distinct(F.flatten(F.collect_list("distinct_users")))),
            ),
        },
        salts=32,
    )
    return out.select(
        "event_type",
        "n",
        (F.col("total_value") / 100.0).alias("total_value"),
        F.col("distinct_users").cast("long").alias("distinct_users"),
    )


# ---------------------------------------------------------------------------
# Storage layout (operators/layout.py): bucketed co-located joins,
# hive-partition pruning, compaction. The write is part of the query so
# the oracle verifies the layout round-trips values exactly.
# ---------------------------------------------------------------------------


def _layout_scratch(sf_dir: str, kind: str) -> str:
    """Per-sf scratch location under the system tempdir (layout queries
    write a physical layout, then query it)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"demy_layout_{kind}_{tag}")


@register(
    "q64_bucketed_join",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q64_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables. orders and
    customer are persisted bucketed+sorted on the join key, then
    sort-merge-joined with ZERO Exchange below the join (test_layout
    audits the plan; the reference re-shuffles on every run —
    SURVEY §4 notes it never used bucketing). At 100 TB this converts
    the recurring fact-join shuffle into a one-time write cost."""
    from demy_spark.operators import layout

    db = f"demy_layout_db_{os.path.basename(_layout_scratch(sf_dir, 'db'))[-8:]}"
    layout.ensure_database(spark, db, _layout_scratch(sf_dir, "db"))
    t = _t(spark, sf_dir)
    layout.write_bucketed(
        t["orders"].select("o_custkey", "o_totalprice"),
        f"{db}.orders_b",
        bucket_cols=["o_custkey"],
        num_buckets=8,
        sort_cols=["o_custkey"],
    )
    layout.write_bucketed(
        t["customer"].select("c_custkey", "c_mktsegment"),
        f"{db}.customer_b",
        bucket_cols=["c_custkey"],
        num_buckets=8,
        sort_cols=["c_custkey"],
    )
    joined = layout.colocated_join(
        spark,
        f"{db}.orders_b",
        f"{db}.customer_b",
        lambda l, r: l["o_custkey"] == r["c_custkey"],
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")) / 100.0
        ).alias("total_price"),
    ).withColumnRenamed("c_mktsegment", "segment")


@register(
    "q65_partition_prune",
    """
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
             AS total_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def q65_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + directory pruning: orders is written
    `o_orderpriority=.../` partitioned, and the IN predicate prunes the
    scan to 2 of 5 directories BEFORE any row is read (test_layout
    asserts inputFiles ⊂ matching dirs). The 100 TB pattern: date- or
    category-partitioned facts make selective scans proportional to
    the selected partitions, not the table."""
    from demy_spark.operators import layout

    path = _layout_scratch(sf_dir, "part")
    t = _t(spark, sf_dir)
    src = t["orders"].select("o_totalprice", "o_orderpriority")
    layout.write_partitioned(src, path, ["o_orderpriority"])
    # explicit schema: an EMPTY partitioned dataset has no part files
    # to infer from and must read back empty, not crash
    # (empty-tables fuzz); partition values still merge into the
    # declared o_orderpriority column on non-empty data
    pruned = spark.read.schema(src.schema).parquet(path).where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return pruned.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")) / 100.0
        ).alias("total_price"),
    )


# Z-order bit interleave, generated once so the DuckDB oracle recomputes the
# exact formula from layout.zorder_key (bits=8, two columns, LSB-first,
# first column in the high lane: bit i of col j lands at i*2 + (1-j)).
_Q68_Z_TERMS = " + ".join(
    [f"(((ba >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
    + [f"(((bb >> {i}) & 1) << {2 * i})" for i in range(8)]
)

_Q68_SQL = f"""
    WITH stats AS (
      SELECT min(CAST(p_retailprice AS DOUBLE)) AS min_a,
             max(CAST(p_retailprice AS DOUBLE)) AS max_a,
             min(CAST(p_size AS DOUBLE)) AS min_b,
             max(CAST(p_size AS DOUBLE)) AS max_b
      FROM part),
    bucketed AS (
      SELECT p_partkey,
             least(CAST(floor((CAST(p_retailprice AS DOUBLE) - min_a) * 256
                              / (max_a - min_a + 1e-9)) AS BIGINT), 255) AS ba,
             least(CAST(floor((CAST(p_size AS DOUBLE) - min_b) * 256
                              / (max_b - min_b + 1e-9)) AS BIGINT), 255) AS bb
      FROM part CROSS JOIN stats)
    SELECT p_partkey, CAST({_Q68_Z_TERMS} AS BIGINT) AS z
    FROM bucketed
"""


@register("q68_zorder_key", _Q68_SQL)
def q68_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Z-order key (layout.zorder_key) over part
    (p_retailprice, p_size), recomputed bit-for-bit by the DuckDB
    oracle: linear binning into 256 buckets between column min/max,
    bucket bits interleaved LSB-first. This is the clustering key
    zorder_write sorts by; making it oracle-able proves the key is a
    pure function of the data (no sampling, no driver state), which is
    what lets the 100 TB clustering job run incrementally."""
    from demy_spark.operators.layout import zorder_key

    t = _t(spark, sf_dir)
    keyed = zorder_key(
        t["part"].select("p_partkey", "p_retailprice", "p_size"),
        ["p_retailprice", "p_size"],
        bits=8,
    )
    return keyed.select("p_partkey", F.col("_z_").cast("long").alias("z"))


def _q71_step_sql(s: int) -> str:
    """One affectPoint update step (ClusteringNode.scala:389-406,
    w = 1.0): pScores bump FIRST (the updated value feeds the blend),
    then the touched topword's running-average center, then the touched
    child-center's error/hit stats."""
    return f"""
    a{s} AS (SELECT ip, ic, score FROM assign WHERE step = {s}),
    ps{s} AS (
        SELECT p.ip,
               p.p + CASE WHEN p.ip = a.ip THEN a.score ELSE 0.0 END AS p
        FROM ps{s - 1} p CROSS JOIN a{s} a),
    vc{s} AS (
        SELECT v.ip, v.d,
               CASE WHEN v.ip = a.ip
                    THEN v.m * (p.p / (p.p + 1.0)) + b.x * (1.0 / (p.p + 1.0))
                    ELSE v.m END AS m
        FROM vc{s - 1} v
        CROSS JOIN a{s} a
        JOIN ps{s} p ON p.ip = v.ip
        LEFT JOIN (SELECT d, x FROM bt WHERE step = {s}) b ON b.d = v.d),
    ce{s} AS (
        SELECT c.ic,
               CASE WHEN c.ic = a.ic
                    THEN c.e * (c.h / (c.h + 1.0))
                         + (1.0 - a.score) * (1.0 / (c.h + 1.0))
                    ELSE c.e END AS e,
               CASE WHEN c.ic = a.ic THEN c.h + 1.0 ELSE c.h END AS h
        FROM ce{s - 1} c CROSS JOIN a{s} a),"""


_Q71_STEPS = 8

_Q71_SQL = (
    """
    WITH tw AS (
        SELECT vec_id AS ip,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings WHERE vec_id < 4),
    twn AS (SELECT ip, sqrt(sum(x * x)) AS n FROM tw GROUP BY 1),
    bt AS (
        SELECT vec_id - 3 AS step,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings WHERE vec_id BETWEEN 4 AND 11),
    btn AS (SELECT step, sqrt(sum(x * x)) AS n FROM bt GROUP BY 1),
    dotp AS (
        SELECT b.step, t.ip, sum(b.x * t.x) AS dp
        FROM bt b JOIN tw t ON b.d = t.d GROUP BY 1, 2),
    assign AS (
        SELECT step, ip, ip % 2 AS ic, score FROM (
            SELECT dp.step, dp.ip,
                   (dp.dp / (bn.n * tn.n) + 1.0) / 2.0 AS score,
                   row_number() OVER (PARTITION BY dp.step
                                      ORDER BY dp.dp / (bn.n * tn.n) DESC,
                                               dp.ip ASC) AS rk
            FROM dotp dp
            JOIN btn bn ON bn.step = dp.step
            JOIN twn tn ON tn.ip = dp.ip)
        WHERE rk = 1),
    ps0 AS (SELECT ip, 0.0 AS p FROM twn),
    vc0 AS (SELECT ip, d, 0.0 AS m FROM tw),
    ce0 AS (SELECT * FROM (VALUES (0, 0.0, 0.0), (1, 0.0, 0.0)) t(ic, e, h)),"""
    + "".join(_q71_step_sql(s) for s in range(1, _Q71_STEPS + 1))
    + f"""
    vcn AS (SELECT ip, sqrt(sum(m * m)) AS vn FROM vc{_Q71_STEPS} GROUP BY 1),
    gapdot AS (
        SELECT v.ip, sum(v.m * t.x) AS dp
        FROM vc{_Q71_STEPS} v JOIN tw t ON t.ip = v.ip AND t.d = v.d
        GROUP BY 1),
    nodem AS (
        SELECT 1.0 - sum(e * h) / sum(h) AS cluster_score,
               1.0 - (sum(abs(tot / 2.0 - h)) / 2.0) / (tot - tot / 2.0)
                   AS cluster_balance
        FROM ce{_Q71_STEPS}, (SELECT sum(h) AS tot FROM ce{_Q71_STEPS}) t
        GROUP BY tot)
    SELECT CAST(p.ip AS INTEGER) AS i_point,
           CAST(p.ip % 2 AS INTEGER) AS i_center,
           round(p.p, 4) + 0.0 AS p_score,
           round(CASE WHEN p.p > 0
                      THEN 1.0 - (coalesce(g.dp / nullif(v.vn * tn.n, 0), 0.0)
                                  + 1.0) / 2.0
                      ELSE 0.0 END, 4) + 0.0 AS p_gap,
           round(v.vn, 4) + 0.0 AS v_center_norm,
           round(c.e, 4) + 0.0 AS c_error,
           round(c.h, 4) + 0.0 AS c_hits,
           round(n.cluster_score, 4) + 0.0 AS cluster_score,
           round(n.cluster_balance, 4) + 0.0 AS cluster_balance
    FROM ps{_Q71_STEPS} p
    JOIN vcn v ON v.ip = p.ip
    JOIN twn tn ON tn.ip = p.ip
    JOIN ce{_Q71_STEPS} c ON c.ic = p.ip % 2
    LEFT JOIN gapdot g ON g.ip = p.ip
    CROSS JOIN nodem n
    """
)


@register("q71_online_centers", _Q71_SQL)
def q71_online_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClusteringNode online running-average updates
    (topic/ClusteringNode.scala:378-407 via topic.online_center_updates):
    4 fixed topwords (embeddings 0-3, centers = ip % 2), an 8-point
    mini-batch (embeddings 4-11) folded through the exact affectPoint
    equations, plus the GAP/error/balance node metrics (:204-212). The
    DuckDB oracle replays the assignment AND all 8 sequential update
    steps as unrolled CTEs (the q42 pattern). Scale shape: assignment
    is the distributed explode/broadcast-join/argmax plan; only the
    bounded batch reaches the driver fold."""
    from demy_spark.topic import online_center_updates

    t = _t(spark, sf_dir)
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    topwords = [
        [float(x) for x in r["v"]]
        for r in sorted(
            emb.where(F.col("vec_id") < 4).collect(), key=lambda r: r["vec_id"]
        )
    ]
    batch = emb.where(F.col("vec_id").between(4, 11))
    out = online_center_updates(
        batch, "vec_id", "v", topwords, n_centers=2, batch_size=8
    )
    rounded = [
        "p_score",
        "p_gap",
        "v_center_norm",
        "c_error",
        "c_hits",
        "cluster_score",
        "cluster_balance",
    ]
    return out.select(
        "i_point",
        "i_center",
        *[(F.round(c, 4) + F.lit(0.0)).alias(c) for c in rounded],
    )


@register(
    "q72_point_in_polygon",
    """
    WITH poly AS (
        SELECT n_nationkey AS poly_id,
               (n_nationkey % 5) * 10 + 2.0 AS cx,
               (n_nationkey // 5) * 10 + 2.0 AS cy
        FROM nation),
    verts AS (
        SELECT poly_id,
               [cx + 3.5, cx, cx - 3.5, cx] AS xs,
               [cy, cy + 3.5, cy, cy - 3.5] AS ys
        FROM poly),
    pts AS (
        SELECT c_custkey AS pt_id,
               (c_custkey % 47) + 0.25 AS px,
               (c_custkey % 29) + 0.25 AS py
        FROM customer),
    edges AS (
        SELECT poly_id, xs[i] AS x1, ys[i] AS y1,
               xs[i % len(xs) + 1] AS x2, ys[i % len(ys) + 1] AS y2
        FROM (SELECT poly_id, xs, ys,
                     unnest(generate_series(1, len(xs))) AS i
              FROM verts) v),
    crossings AS (
        SELECT p.pt_id, e.poly_id,
               count(*) FILTER (
                   WHERE ((e.y1 > p.py) <> (e.y2 > p.py))
                     AND p.px < (e.x2 - e.x1) * (p.py - e.y1)
                                / (e.y2 - e.y1) + e.x1) AS k
        FROM pts p CROSS JOIN poly pl
        JOIN edges e ON e.poly_id = pl.poly_id
        WHERE p.px >= pl.cx - 3.5 AND p.px < pl.cx + 3.5
          AND p.py >= pl.cy - 3.5 AND p.py < pl.cy + 3.5
        GROUP BY 1, 2)
    SELECT poly_id, count(*) AS n_inside
    FROM crossings WHERE k % 2 = 1
    GROUP BY poly_id
    """,
)
def q72_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact point-in-polygon with NO shapely (geo.point_in_polygon_
    raycast): diamond polygons derived from nation, points from
    customer keys, bbox-prefilter join (broadcast polygon side) then an
    even-odd ray-cast as one codegen'd F.aggregate fold — the
    dependency-free exact path for the reference's IRIS assignment
    (AddressLocalizator.scala:32-36). DuckDB replays the identical
    crossing count, making this the first oracle-green PIP row."""
    from demy_spark.geo import point_in_bbox_join, point_in_polygon_raycast

    t = _t(spark, sf_dir)
    cx = (F.col("n_nationkey") % 5) * 10 + F.lit(2.0)
    cy = F.floor(F.col("n_nationkey") / 5) * 10 + F.lit(2.0)
    polys = t["nation"].select(
        F.col("n_nationkey").alias("poly_id"),
        F.array(cx + 3.5, cx, cx - 3.5, cx).alias("xs"),
        F.array(cy, cy + 3.5, cy, cy - 3.5).alias("ys"),
        (cx - 3.5).alias("x_min"),
        (cx + 3.5).alias("x_max"),
        (cy - 3.5).alias("y_min"),
        (cy + 3.5).alias("y_max"),
    )
    pts = t["customer"].select(
        F.col("c_custkey").alias("pt_id"),
        ((F.col("c_custkey") % 47) + F.lit(0.25)).alias("px"),
        ((F.col("c_custkey") % 29) + F.lit(0.25)).alias("py"),
    )
    cand = point_in_bbox_join(pts, polys, x_col="px", y_col="py")
    exact = point_in_polygon_raycast(
        cand, xs_col="xs", ys_col="ys", x_col="px", y_col="py"
    )
    return (
        exact.where(F.col("contains"))
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_inside"))
    )


def _q73_obj(a: str, b: str) -> str:
    """Platt cross-entropy term (TermlLikelyhoodEvaluator.scala:321-326),
    numerically split on the sign of f·A+B exactly like the reference."""
    fab = f"(deci * ({a}) + ({b}))"
    return (
        f"sum(CASE WHEN {fab} >= 0 "
        f"THEN t * {fab} + ln(1.0 + exp(-{fab})) "
        f"ELSE (t - 1.0) * {fab} + ln(1.0 + exp({fab})) END)"
    )


def _q73_step_sql(s: int) -> str:
    """One damped-Newton step with Armijo backtracking: gradient/Hessian
    aggregates at (a,b), direction via the 2×2 solve, then 34 candidate
    stepsizes 2^-k (k=0..33, the reference's minstep=1e-10 ladder); the
    smallest k passing the sufficient-decrease test wins, none → (a,b)
    unchanged (scala:346-396)."""
    return f"""
    pq{s} AS (
        SELECT deci AS fi, t,
               CASE WHEN fab >= 0 THEN exp(-fab) / (1.0 + exp(-fab))
                    ELSE 1.0 / (1.0 + exp(fab)) END AS p,
               CASE WHEN fab >= 0 THEN 1.0 / (1.0 + exp(-fab))
                    ELSE exp(fab) / (1.0 + exp(fab)) END AS q
        FROM (SELECT deci, t, deci * a + b AS fab FROM targ, st{s - 1}) z),
    grad{s} AS (
        SELECT sum(fi * fi * p * q) + 1e-12 AS h11,
               sum(p * q) + 1e-12 AS h22,
               sum(fi * p * q) AS h21,
               sum(fi * (t - p)) AS g1,
               sum(t - p) AS g2
        FROM pq{s}),
    dir{s} AS (
        SELECT -(h22 * g1 - h21 * g2) / (h11 * h22 - h21 * h21) AS da,
               -(-h21 * g1 + h11 * g2) / (h11 * h22 - h21 * h21) AS db,
               g1 * (-(h22 * g1 - h21 * g2) / (h11 * h22 - h21 * h21))
               + g2 * (-(-h21 * g1 + h11 * g2) / (h11 * h22 - h21 * h21)) AS gd
        FROM grad{s}),
    ls{s} AS (
        SELECT k, a + pow(0.5, k) * da AS newa, b + pow(0.5, k) * db AS newb,
               {_q73_obj("a + pow(0.5, k) * da", "b + pow(0.5, k) * db")} AS newf
        FROM targ, st{s - 1}, dir{s},
             (SELECT unnest(generate_series(0, 33)) AS k) ks
        GROUP BY k, a, b, da, db),
    acc{s} AS (
        SELECT min(k) AS kk
        FROM ls{s}, f{s - 1}, dir{s}
        WHERE newf < fval + 1e-4 * pow(0.5, k) * gd),
    st{s} AS (
        SELECT coalesce(w.newa, st.a) AS a, coalesce(w.newb, st.b) AS b
        FROM st{s - 1} st
        LEFT JOIN (SELECT newa, newb FROM ls{s}, acc{s} WHERE k = kk) w ON true),
    f{s} AS (
        SELECT coalesce(w.newf, f.fval) AS fval
        FROM f{s - 1} f
        LEFT JOIN (SELECT newf FROM ls{s}, acc{s} WHERE k = kk) w ON true),"""


_Q73_SQL = (
    """
    WITH samp AS (
        SELECT o_totalprice / 200000.0 - 0.5 AS deci,
               CASE WHEN (o_totalprice < 100000.0) <> (o_orderkey % 7 = 0)
                    THEN 1 ELSE 0 END AS label
        FROM orders ORDER BY o_orderkey LIMIT 200),
    prior AS (
        SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS p1,
               sum(CASE WHEN label = 1 THEN 0 ELSE 1 END) AS p0
        FROM samp),
    targ AS (
        SELECT deci,
               CASE WHEN label = 1 THEN (p1 + 1.0) / (p1 + 2.0)
                    ELSE 1.0 / (p0 + 2.0) END AS t
        FROM samp, prior),
    st0 AS (SELECT 0.0 AS a, ln((p0 + 1.0) / (p1 + 1.0)) AS b FROM prior),
    f0 AS (SELECT """
    + _q73_obj("a", "b")
    + """ AS fval FROM targ, st0),"""
    + _q73_step_sql(1)
    + _q73_step_sql(2)
    + """
    scored AS (
        SELECT CASE WHEN st2.a > 1e-20
                    THEN 1.0 / (1.0 + exp(st2.a * s.deci + st2.b))
                    ELSE 0.5 + atan(s.deci) / pi() END AS proba,
               s.label
        FROM samp s, st2)
    SELECT round(st2.a, 6) + 0.0 AS platt_a,
           -- coalesced: on an empty sample the engine's Newton loop
           -- keeps its b=0 initialization and counts 0 positives
           round(coalesce(st2.b, 0.0), 6) + 0.0 AS platt_b,
           (SELECT round(avg(proba), 6) + 0.0 FROM scored) AS avg_proba,
           (SELECT round(avg(proba) FILTER (WHERE label = 1), 6) + 0.0
            FROM scored) AS avg_proba_pos,
           (SELECT coalesce(CAST(p1 AS BIGINT), 0) FROM prior) AS n_pos
    FROM st2
    """
)


@register("q73_platt_calibration", _Q73_SQL)
def q73_platt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt A/B calibration (TermlLikelyhoodEvaluator.scala:288-400
    via functions.calibration.platt_fit): 200 frozen margins from
    orders, two deterministic damped-Newton steps (fixed-step replay
    mode), calibrated probability column. The DuckDB oracle unrolls
    both Newton steps — gradient/Hessian aggregates, the 2×2 solve,
    and the full 34-rung Armijo backtracking ladder. The reference
    itself collects all decision values to the driver before fitting
    (:214-219); here only the bounded calibration sample is collected."""
    from demy_spark.functions.calibration import platt_fit, platt_probability

    t = _t(spark, sf_dir)
    samp = (
        t["orders"]
        .orderBy("o_orderkey")
        .limit(200)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") / 200000.0 - 0.5).alias("deci"),
            (
                (F.col("o_totalprice") < 100000.0)
                != (F.col("o_orderkey") % 7 == 0)
            )
            .cast("int")
            .alias("label"),
        )
    )
    rows = sorted(samp.collect(), key=lambda r: r["o_orderkey"])
    A, B = platt_fit(
        [r["deci"] for r in rows], [r["label"] for r in rows], n_steps=2
    )
    n_pos = sum(1 for r in rows if r["label"] == 1)
    scored = samp.select(
        platt_probability(F.col("deci"), A, B).alias("proba"), "label"
    )
    return scored.agg(
        (F.lit(round(A, 6)) + F.lit(0.0)).alias("platt_a"),
        (F.lit(round(B, 6)) + F.lit(0.0)).alias("platt_b"),
        (F.round(F.avg("proba"), 6) + F.lit(0.0)).alias("avg_proba"),
        (
            F.round(F.avg(F.when(F.col("label") == 1, F.col("proba"))), 6)
            + F.lit(0.0)
        ).alias("avg_proba_pos"),
        F.lit(n_pos).cast("bigint").alias("n_pos"),
    )


_Q74_SIMPLIFY = (
    "translate(regexp_replace(regexp_replace(lower({x}), 'l''', '  ', 'g'),"
    " 'd''', '  ', 'g'),"
    " 'àáâãäåæèéêëœìíîïðñòóôõöøùúûüç-''', 'aaaaaaaeeeeeiiiioooooooouuuuc  ')"
)

@register(
    "q74_embed_options",
    f"""
    WITH synth AS (
      SELECT n_nationkey,
             string_split('L''Hôpital Général d''Été DÉPARTEMENTAL Cœur-Ørtie '
                          || n_name, ' ') AS toks
      FROM nation),
    prep AS (
      SELECT n_nationkey,
             list_transform(toks, x -> substring(x, 1, 6)) AS t6,
             list_transform(toks, x -> lower(substring(x, 1, 6))) AS t6l,
             list_transform(toks,
               x -> {_Q74_SIMPLIFY.format(x="substring(x, 1, 6)")}) AS t6s
      FROM synth),
    vocab AS (
      SELECT DISTINCT unnest(t6s) AS word FROM prep WHERE n_nationkey % 2 = 0),
    tokrows AS (SELECT n_nationkey, unnest(t6s) AS word FROM prep),
    matched AS (
      SELECT r.n_nationkey, count(*) AS n_matched,
             sum(length(r.word)) AS sum_len
      FROM tokrows r JOIN vocab v USING (word)
      GROUP BY 1)
    SELECT p.n_nationkey,
           array_to_string(t6, '|') AS opt_truncate,
           array_to_string(t6l, '|') AS opt_lower,
           array_to_string(t6s, '|') AS opt_full,
           CAST(len(p.t6s) AS BIGINT) AS n_tokens,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.sum_len AS BIGINT) AS sum_len
    FROM prep p JOIN matched m USING (n_nationkey)
    """,
)
def q74_embed_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2VecApplier option matrix (applyCaseAccentsAndLimit,
    text/Word2VecApplier.scala:33-169 esp. :154-160): truncate-at-N
    FIRST, then lowercase (case_sensitive=False), then accent-simplify
    (accent_sensitive=False) — three option combinations materialized
    side by side over synthetic accented mixed-case tokens, then the
    full-normalized tokens drive ``apply_embeddings`` against a
    vocabulary derived from the even-keyed nations (integer-valued
    vectors so the per-doc sums are exact). Oracle replays the
    truncate→case→accent chain and the lookup join in SQL."""
    from demy_spark.features import apply_embeddings, prepare_tokens

    t = _t(spark, sf_dir)
    synth = t["nation"].select(
        "n_nationkey",
        F.split(
            F.concat(
                F.lit("L'Hôpital Général d'Été DÉPARTEMENTAL Cœur-Ørtie "),
                F.col("n_name"),
            ),
            " ",
        ).alias("toks"),
    )
    prepped = synth.select(
        "n_nationkey",
        prepare_tokens(
            "toks", truncate_at=6, case_sensitive=True, accent_sensitive=True
        ).alias("t6"),
        prepare_tokens(
            "toks", truncate_at=6, case_sensitive=False, accent_sensitive=True
        ).alias("t6l"),
        prepare_tokens(
            "toks", truncate_at=6, case_sensitive=False, accent_sensitive=False
        ).alias("t6s"),
    )
    vectors = (
        prepped.where(F.col("n_nationkey") % 2 == 0)
        .select(F.explode("t6s").alias("word"))
        .distinct()
        .select("word", F.array(F.length("word"), F.lit(1)).alias("vector"))
    )
    applied = apply_embeddings(
        prepped.select("n_nationkey", "t6s"), "n_nationkey", "t6s", vectors
    )
    return (
        prepped.join(applied, "n_nationkey")
        .select(
            "n_nationkey",
            F.concat_ws("|", "t6").alias("opt_truncate"),
            F.concat_ws("|", "t6l").alias("opt_lower"),
            F.concat_ws("|", "t6s").alias("opt_full"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
            F.element_at("embedding", 1).cast("bigint").alias("sum_len"),
        )
    )


@register(
    "q75_shapefile_flatten",
    """
    WITH base AS (
      SELECT CAST(n_nationkey AS BIGINT) AS nkey, n_name AS name,
             (n_nationkey % 5) * 10.0 AS cx,
             (n_nationkey // 5) * 10.0 AS cy,
             1.0 + (n_nationkey % 3) AS r
      FROM nation)
    SELECT nkey, name,
           CAST(CASE WHEN nkey % 3 = 0 THEN TRUE
                     WHEN nkey % 3 = 1 THEN FALSE END AS VARCHAR) AS big,
           cx - r AS x_min, cy - r AS y_min,
           cx + r AS x_max, cy + r AS y_max,
           CAST(5 AS BIGINT) AS n_vertices,
           5 * cx - r AS sum_x, 5 * cy - r AS sum_y,
           CAST(93 AS BIGINT) AS wkb_len
    FROM base
    """,
)
def q75_shapefile_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapefile → DataFrame flatten (GeoManager.scala:40-245): a
    deterministic .shp/.dbf fixture is synthesized from the nation
    table (one square per nation, center/radius closed-form in
    n_nationkey; dBase N/C/L fields incl. an UNSET logical cell every
    third row), round-tripped through the spec-based binary writer and
    the pure-Python reader, then flattened to bbox columns, vertex
    counts/sums and WKB byte length. The oracle replays the closed-form
    geometry per nation — the reader's first driver-checked row.
    Polygon side is driver-built by design: shapefiles are broadcast
    dimension tables (IRIS ~50k polygons), the 100 TB side is points."""
    import os

    from demy_spark.shapefile import (
        build_dbf_bytes,
        build_shp_bytes,
        read_shapefile,
    )

    t = _t(spark, sf_dir)
    nations = sorted(
        t["nation"].select("n_nationkey", "n_name").collect(),
        key=lambda r: r["n_nationkey"],
    )
    polys, rows = [], []
    for r in nations:
        k = int(r["n_nationkey"])
        cx, cy, rad = (k % 5) * 10.0, (k // 5) * 10.0, 1.0 + (k % 3)
        ring = [
            (cx - rad, cy - rad),
            (cx + rad, cy - rad),
            (cx + rad, cy + rad),
            (cx - rad, cy + rad),
            (cx - rad, cy - rad),
        ]
        polys.append([ring])
        big = "T" if k % 3 == 0 else "F" if k % 3 == 1 else ""
        rows.append([str(k), r["n_name"], big])
    d = _layout_scratch(sf_dir, "q75")
    os.makedirs(d, exist_ok=True)
    shp = os.path.join(d, "zones.shp")
    with open(shp, "wb") as f:
        f.write(build_shp_bytes(polys))
    with open(os.path.join(d, "zones.dbf"), "wb") as f:
        f.write(
            build_dbf_bytes(
                [("NKEY", "N", 4), ("NAME", "C", 25), ("BIG", "L", 1)], rows
            )
        )
    df = read_shapefile(spark, shp)
    return df.select(
        F.col("NKEY").alias("nkey"),
        F.col("NAME").alias("name"),
        # string-typed so a NULL boolean compares identically through
        # pandas on both engines (bool NULL -> NaN in duckdb's fetchdf)
        F.col("BIG").cast("string").alias("big"),
        "x_min",
        "y_min",
        "x_max",
        "y_max",
        F.size("xs").cast("bigint").alias("n_vertices"),
        F.aggregate("xs", F.lit(0.0), lambda a, x: a + x).alias("sum_x"),
        F.aggregate("ys", F.lit(0.0), lambda a, y: a + y).alias("sum_y"),
        F.length("geometry").cast("bigint").alias("wkb_len"),
    )


@register(
    "q77_split_doc",
    r"""
    WITH docs AS (
      SELECT CAST(n_nationkey AS BIGINT) AS doc_id,
             'L''Hôpital Génér@l; voir (Zone-' || n_name || ') N°'
               || CAST(n_nationkey AS VARCHAR) || '. Fin' AS s
      FROM nation),
    chars AS (
      SELECT doc_id, pos, c,
             lower(c) AS lc,
             lower(coalesce(lead(c) OVER (PARTITION BY doc_id ORDER BY pos),
                            'X')) AS nc
      FROM (SELECT doc_id,
                   generate_subscripts(string_split(s, ''), 1) AS pos,
                   unnest(string_split(s, '')) AS c
            FROM docs)),
    sm AS (
      SELECT doc_id, pos,
             CASE
               WHEN lc IN ('à','á','â','ã','ä','å','æ') THEN 'a'
               WHEN lc IN ('è','é','ê','ë','œ') THEN 'e'
               WHEN lc IN ('ì','í','î','ï') THEN 'i'
               WHEN lc IN ('ð','ñ','ò','ó','ô','õ','ö','ø') THEN 'o'
               WHEN lc IN ('ù','ú','û','ü') THEN 'u'
               WHEN lc = 'ç' THEN 'c'
               WHEN lc IN ('-', '''') THEN ' '
               WHEN lc IN ('l', 'd') AND nc = '''' THEN ' '
               ELSE lc END AS s1
      FROM chars),
    fc AS (
      SELECT doc_id, pos,
             CASE WHEN regexp_matches(s1, '^\p{L}$') THEN s1
                  ELSE ' ' END AS f
      FROM sm),
    flags AS (
      SELECT doc_id, pos, f,
             CASE WHEN lag(f) OVER w IS NULL
                   OR (f = ' ') <> (lag(f) OVER w = ' ')
              THEN 1 ELSE 0 END AS st
      FROM fc WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    runs AS (
      SELECT doc_id, pos, f,
             sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM flags),
    tok AS (
      SELECT doc_id, run_id, min(pos) AS start, count(*) AS len,
             string_agg(f, '' ORDER BY pos) AS simplified,
             bool_or(f <> ' ') AS is_word
      FROM runs GROUP BY 1, 2),
    tok2 AS (
      SELECT t.doc_id, substring(d.s, CAST(t.start AS INTEGER),
                                 CAST(t.len AS INTEGER)) AS word,
             t.simplified, t.is_word, t.start
      FROM tok t JOIN docs d USING (doc_id))
    SELECT doc_id, word, simplified, is_word,
           CAST(row_number() OVER w - 1 AS INTEGER) AS index,
           CAST(coalesce(sum(CASE WHEN regexp_matches(word, '[\r\n.;!?]')
                                  THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY start
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS INTEGER)
             AS phrase_id
    FROM tok2 WINDOW w AS (PARTITION BY doc_id ORDER BY start)
    """,
)
def q77_split_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word.splitDoc record producer (text/Word.scala:91-109 via
    functions.text.split_doc_records): synthetic accented docs from the
    nation table segment into interleaved word / non-word Word records
    — ORIGINAL slice + length-preserving simplified slice + sequential
    index + phrase ids that increment after separator-carrying tokens.
    The oracle replays the whole pipeline char-by-char in SQL (per-char
    simplify with elision lookahead, run grouping, original-slice
    substring, separator-cumulative phrase ids) — clearing §2.8's last
    partial row. URL blanking is unit-tested (the oracle fixture is
    URL-free; blanking cannot be replayed with plain regexp_replace)."""
    from demy_spark.functions.text import split_doc_records

    t = _t(spark, sf_dir)
    docs = t["nation"].select(
        F.col("n_nationkey").cast("bigint").alias("doc_id"),
        F.concat(
            F.lit("L'Hôpital Génér@l; voir (Zone-"),
            F.col("n_name"),
            F.lit(") N°"),
            F.col("n_nationkey").cast("string"),
            F.lit(". Fin"),
        ).alias("s"),
    )
    return split_doc_records(docs, "doc_id", "s")


@register(
    "q78_entity_refine",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(trim(lower(text)), ' '),
                                x -> x <> '')) AS tok
      FROM documents),
    d0 AS (
      SELECT * FROM (VALUES ('e_spark', 'spark', 0), ('e_query', 'query', 0),
                            ('e_table', 'table', 0))
               AS t(entity, synonym, round_added)),
    ed1 AS (SELECT DISTINCT t.doc_id, d.entity
            FROM toks t JOIN d0 d ON t.tok = d.synonym),
    mt1 AS (SELECT DISTINCT d.entity, t.tok
            FROM toks t JOIN d0 d ON t.tok = d.synonym),
    c1 AS (
      SELECT e.entity, t.tok, count(DISTINCT t.doc_id) AS n_docs
      FROM ed1 e JOIN toks t USING (doc_id)
      WHERE NOT EXISTS (SELECT 1 FROM mt1 x
                        WHERE x.entity = e.entity AND x.tok = t.tok)
      GROUP BY 1, 2 HAVING count(DISTINCT t.doc_id) >= 100),
    a1 AS (
      SELECT entity, tok AS synonym, 1 AS round_added
      FROM (SELECT entity, tok,
                   row_number() OVER (PARTITION BY entity
                                      ORDER BY n_docs DESC, tok) AS rk
            FROM c1) r
      WHERE rk <= 2
        AND NOT EXISTS (SELECT 1 FROM d0 x
                        WHERE x.entity = r.entity AND x.synonym = r.tok)),
    d1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM a1),
    ed2 AS (SELECT DISTINCT t.doc_id, d.entity
            FROM toks t JOIN d1 d ON t.tok = d.synonym),
    mt2 AS (SELECT DISTINCT d.entity, t.tok
            FROM toks t JOIN d1 d ON t.tok = d.synonym),
    c2 AS (
      SELECT e.entity, t.tok, count(DISTINCT t.doc_id) AS n_docs
      FROM ed2 e JOIN toks t USING (doc_id)
      WHERE NOT EXISTS (SELECT 1 FROM mt2 x
                        WHERE x.entity = e.entity AND x.tok = t.tok)
      GROUP BY 1, 2 HAVING count(DISTINCT t.doc_id) >= 100),
    a2 AS (
      SELECT entity, tok AS synonym, 2 AS round_added
      FROM (SELECT entity, tok,
                   row_number() OVER (PARTITION BY entity
                                      ORDER BY n_docs DESC, tok) AS rk
            FROM c2) r
      WHERE rk <= 2
        AND NOT EXISTS (SELECT 1 FROM d1 x
                        WHERE x.entity = r.entity AND x.synonym = r.tok)),
    d2 AS (SELECT * FROM d1 UNION ALL SELECT * FROM a2)
    SELECT entity, synonym, CAST(round_added AS INTEGER) AS round_added
    FROM d2
    """,
)
def q78_entity_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative entity-dictionary refinement (EntityCalculator.scala:
    16-249's multi-round loop via entity.refine_entities): two rounds
    of match → co-occurrence proposal → deterministic auto-accept
    (top-2 per entity, ≥100 shared docs) growing a 3-seed dictionary
    over the documents table. The oracle unrolls both rounds —
    closing the last 'missing' item from the round-2 verdict (the
    reference's accept decision is UI-driven; the policy here is the
    deterministic stand-in)."""
    from demy_spark.entity import refine_entities

    t = _t(spark, sf_dir)
    seeds = local_frame(
        spark,
        [("e_spark", "spark"), ("e_query", "query"), ("e_table", "table")],
        "entity string, synonym string",
    )
    return refine_entities(
        t["documents"],
        "text",
        "doc_id",
        seeds,
        rounds=2,
        accept_top_k=2,
        min_count=100,
    )


@register(
    "q79_pipeline_grid",
    """
    WITH params AS (
      SELECT * FROM (VALUES (0, 10.0), (1, 25.0), (2, 40.0)) AS t(version, qty)),
    rev AS (
      -- LEFT join + coalesce: the grid's versions exist regardless of
      -- the data (an empty day still evaluates 3 candidates at 0
      -- revenue, exactly what the orchestrator reports)
      SELECT p.version, p.qty,
             coalesce(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                     * 100 + 0.5) AS BIGINT)) / 100.0,
                      0.0) AS total
      FROM params p LEFT JOIN lineitem l ON l.l_quantity < p.qty
      GROUP BY 1, 2)
    SELECT version, qty, round(total, 2) + 0.0 AS total_revenue,
           (version = (SELECT version FROM rev
                       ORDER BY total DESC, version LIMIT 1)) AS is_best
    FROM rev
    """,
)
def q79_pipeline_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model/Step/Plan orchestration end-to-end (Model.scala:17-257,
    ModelPlan.scala:5-46 via orchestrator.Model/Plan/grid_search): a
    two-step pipeline (filter → revenue agg) runs once per Plan.switch
    version; the revenue step renames through a parquet-hostile column
    name (' items') and snapshots, exercising the checkpoint column
    escaping (util.scala:60-77); grid_search picks the best version.
    Money sums are exact cents; the oracle replays every version's
    aggregation and the argmax. Moves the orchestration row from
    test-only to driver-checked."""
    from demy_spark.orchestrator import Model, Plan, Step, grid_search

    t = _t(spark, sf_dir)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
     + 0.5).cast("bigint")

    def flt(df, qty=50.0):
        return df.where(F.col("l_quantity") < qty)

    def rev(df):
        return df.groupBy("l_returnflag").agg(
            (F.sum(cents) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )

    model = Model(
        "grid_demo",
        [
            Step("filter", flt, inputs=["#lineitem"]),
            Step(
                "revenue",
                rev,
                inputs=["$filter"],
                rename={"n": "n items"},  # escaped on snapshot write
                snapshot=True,
            ),
        ],
        snapshot_dir=_layout_scratch(sf_dir, "q79"),
        reuse_snapshots=False,
    )
    plan = Plan().switch("filter", "qty", [10.0, 25.0, 40.0])
    res = grid_search(
        model,
        spark,
        {"lineitem": t["lineitem"]},
        plan,
        evaluate=lambda df: float(
            df.agg(F.sum("revenue")).collect()[0][0] or 0.0
        ),
    )
    qtys = {str(i): q for i, q in enumerate([10.0, 25.0, 40.0])}
    rows = [
        (
            int(s["version"]),
            qtys[s["version"]],
            round(s["score"], 2) + 0.0,
            s["version"] == res["best_version"],
        )
        for s in res["scores"]
    ]
    return local_frame(
        spark, rows, "version int, qty double, total_revenue double, is_best boolean"
    )


@register(
    "q80_source_scan",
    """
    SELECT 'text' AS source, CAST(n_nationkey AS BIGINT) AS nkey,
           n_name AS name
    FROM nation
    UNION ALL
    SELECT 'csv', CAST(n_nationkey AS BIGINT), n_name FROM nation
    UNION ALL
    SELECT 'json', CAST(n_nationkey AS BIGINT), n_name FROM nation
    """,
)
def q80_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text / CSV(';') / JSON source scans (text/Corpus.scala:27,
    twitter/Execute.scala:30, net2demy/Execute.scala:62 via
    demy_spark.io.read_text/read_csv/read_json): a deterministic
    fixture derived from the nation table is written in all three
    formats and read back through the engine's readers; the oracle is
    the identity over nation — value-checking each scan path's
    round-trip. Moves three §2.1 rows from test-only to
    driver-checked."""
    import json as _json
    import os

    from demy_spark.io import read_csv, read_json, read_text_corpus

    t = _t(spark, sf_dir)
    rows = sorted(
        t["nation"].select("n_nationkey", "n_name").collect(),
        key=lambda r: r["n_nationkey"],
    )
    d = _layout_scratch(sf_dir, "q80")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "n.txt"), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(f"{r['n_nationkey']}|{r['n_name']}\n")
    with open(os.path.join(d, "n.csv"), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(f"{r['n_nationkey']};{r['n_name']}\n")
    with open(os.path.join(d, "n.json"), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(
                _json.dumps({"nkey": r["n_nationkey"], "name": r["n_name"]})
                + "\n"
            )

    txt = read_text_corpus(spark, os.path.join(d, "n.txt")).select(
        F.lit("text").alias("source"),
        F.split("line", r"\|")[0].cast("bigint").alias("nkey"),
        F.split("line", r"\|")[1].alias("name"),
    )
    csv = read_csv(spark, os.path.join(d, "n.csv")).select(
        F.lit("csv").alias("source"),
        F.col("_c0").cast("bigint").alias("nkey"),
        F.col("_c1").alias("name"),
    )
    js = read_json(spark, os.path.join(d, "n.json")).select(
        F.lit("json").alias("source"),
        F.col("nkey").cast("bigint").alias("nkey"),
        F.col("name").alias("name"),
    )
    return txt.unionByName(csv).unionByName(js)


@register(
    "q81_phonetic_simplify",
    """
    WITH synth AS (
      SELECT n_nationkey,
             'L''Hôquet d''Automne; Vazzky-Qualss Œuf ' || n_name AS s
      FROM nation)
    SELECT n_nationkey,
           translate(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(lower(s), 'l''', '', 'g'),
               'd''', '', 'g'), 'qu', 'c', 'g'),
               'l{2,}', 'l', 'g'), 's{2,}', 's', 'g'),
             'àáâãäåæèéêëœìíîïðñòóôõöøùúûüçzvwkgq-',
             'aaaaaaaeeeeeiiiioooooooouuuussbbcjc ') AS phonetic
    FROM synth
    """,
)
def q81_phonetic_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo phonetic folding (geo/TextTools.scala:10-35 via
    functions.text.phonetic_simplify): elision removal, qu→c, ll/ss
    collapse, z→s v/w→b k→c g→j q→c ç→s and accent folds as one
    codegen'd regexp/translate chain — oracle-checked char-for-char
    like q48's simplify (the ordering of the chain is the contract:
    qu→c must run before the single-letter translate)."""
    from demy_spark.functions.text import phonetic_simplify

    t = _t(spark, sf_dir)
    s = F.concat(
        F.lit("L'Hôquet d'Automne; Vazzky-Qualss Œuf "), F.col("n_name")
    )
    return t["nation"].select(
        "n_nationkey", phonetic_simplify(s).alias("phonetic")
    )


_Q82_DIR = [round(__import__("math").sin(0.5 * (d + 1)), 6) for d in range(64)]

_Q82_SQL = f"""
    WITH dv AS (
        SELECT generate_subscripts(arr, 1) - 1 AS d, unnest(arr) AS w
        FROM (SELECT CAST([{", ".join(str(x) for x in _Q82_DIR)}]
                          AS DOUBLE[]) AS arr)),
    pairs AS (
        SELECT a.vec_id, a.embedding AS x, b.embedding AS y
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100),
    dims AS (
        SELECT vec_id, generate_subscripts(x, 1) - 1 AS d,
               unnest(x::DOUBLE[]) AS xv, unnest(y::DOUBLE[]) AS yv
        FROM pairs),
    acc AS (
        SELECT p.vec_id,
               sum((yv - xv) * w) AS dotp,
               sqrt(sum((yv - xv) * (yv - xv))) AS nd,
               sqrt(sum(w * w)) AS nw
        FROM dims p JOIN dv USING (d) GROUP BY 1)
    SELECT vec_id,
           round((CASE WHEN nd > 0 AND nw > 0 THEN dotp / (nd * nw)
                       ELSE 0.0 END + 1.0) / 2.0, 6) + 0.0 AS analogy_score
    FROM acc
"""


@register("q82_analogy_score", _Q82_SQL)
def q82_analogy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalogyNode's averaged-analogy scoring (topic/AnalogyNode.scala:
    107-115 via topic.analogy_score): how well each (x → x+100) pair of
    embeddings follows a frozen direction vector —
    similarityScore((y−x)·dir) with the difference taken in float64 on
    both engines (the float32 fixture is cast up BEFORE subtracting, so
    the 6dp rounding cannot straddle an f32-vs-f64 boundary)."""
    from demy_spark.topic import analogy_score

    t = _t(spark, sf_dir)
    e = t["embeddings"]
    a = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    b = e.select(
        (F.col("vec_id") - 100).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("y"),
    )
    pairs = a.join(b, "vec_id")
    return analogy_score(pairs, "x", "y", _Q82_DIR).select(
        "vec_id", "analogy_score"
    )


@register(
    "q83_fuzzy_predict",
    """
    WITH dtoks AS (
        SELECT doc_id,
               list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dict AS (
        SELECT array_to_string(toks[1:3], ' ') AS phrase, min(doc_id) AS entity_id
        FROM dtoks WHERE doc_id % 97 = 0 AND len(toks) >= 3
        GROUP BY 1
    ),
    postings AS (
        SELECT phrase, entity_id, tok, count(*) AS tf
        FROM (SELECT phrase, entity_id,
                     unnest(string_split(phrase, ' ')) AS tok FROM dict)
        GROUP BY 1, 2, 3
    ),
    dls AS (SELECT phrase, len(string_split(phrase, ' ')) AS dl FROM dict),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
    dfs AS (SELECT tok, count(DISTINCT phrase) AS df FROM postings GROUP BY 1),
    qtoks AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
               unnest(toks) AS tok, len(toks) AS ntoks
        FROM dtoks WHERE doc_id % 10 = 0
    ),
    qw AS (SELECT *, 1.0 + (doc_id + pos) % 3 AS w FROM qtoks),
    peaks AS (
        SELECT doc_id, pos AS peak
        FROM (SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY w DESC, pos) AS rk
              FROM qw) WHERE rk = 1
    ),
    contrib AS (
        SELECT q.doc_id, q.pos, p.phrase, p.entity_id, q.ntoks,
               q.w * 4.0
                 * ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                 * (p.tf * 2.2)
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS c
        FROM qw q
        JOIN postings p ON q.tok = p.tok
        JOIN dfs f ON p.tok = f.tok
        JOIN dls l ON p.phrase = l.phrase
        CROSS JOIN stats s
    ),
    windowed AS (
        SELECT c.doc_id, c.phrase, c.entity_id,
               sum(c.c) AS score,
               greatest(any_value(k.peak) - 1, 0) AS start_index,
               least(greatest(any_value(k.peak) - 1, 0) + 3,
                     any_value(c.ntoks)) AS end_index
        FROM contrib c JOIN peaks k USING (doc_id)
        WHERE c.pos BETWEEN k.peak - 1 AND k.peak + 1
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY round(score, 6) DESC, entity_id) AS rk
        FROM windowed WHERE score >= 1.0
    )
    SELECT doc_id, phrase, entity_id,
           CAST(start_index AS INTEGER) AS start_index,
           CAST(end_index AS INTEGER) AS end_index,
           round(CAST(CAST(score AS REAL) AS DOUBLE), 2) + 0.0 AS score
    FROM ranked WHERE rk = 1
    """,
)
def q83_fuzzy_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PredictStrategy path of the flagship lookup (index/
    PredictStrategy.scala:31-105): only the 3-token window centered on
    each query's term-weight peak scores; weights are the deterministic
    1 + (doc_id + pos) mod 3 ramp, so the peak is the first position
    hitting the max weight. The oracle recomputes peak location, the
    windowed BM25-style contributions, and the clamped span bounds —
    the strategy's first value-level driver row (q24/q51 cover
    ngram/standard)."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        t["documents"]
        .where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 3))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
        )
        .groupBy("phrase")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    probes = (
        t["documents"]
        .where(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            "text",
            F.transform(
                toks, lambda x, i: 1.0 + (F.col("doc_id") + i) % 3
            ).alias("weights"),
        )
    )
    out = fuzzy_lookup(
        probes,
        dictionary,
        "text",
        "phrase",
        max_lev_distance=0,
        strategy="predict",
        n_ngrams=3,
        min_score=1.0,
        term_weights_col="weights",
        tie_break_cols=("entity_id",),
    )
    return out.where(F.col("phrase").isNotNull()).select(
        "doc_id",
        "phrase",
        "entity_id",
        F.col("_startIndex_").cast("int").alias("start_index"),
        F.col("_endIndex_").cast("int").alias("end_index"),
        (F.round(F.col("_score_").cast("double"), 2) + F.lit(0.0)).alias(
            "score"
        ),
    )


@register(
    "q84_tweet_clean",
    r"""
    SELECT n_nationkey,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(
               'RT @user' || CAST(n_nationkey AS VARCHAR)
                 || ': Gagnant :) #souriant voir https://t.co/x' || n_name
                 || ' via @media fin',
               '(?i)(https?|ftp|gopher|telnet|file)://[\w\d:#@%/;$()~_?\+\-=\\\.&]*',
               ' link ', 'g'),
             '(^|[^a-zA-Z0-9-_.])@(\w+)\b', '\1 user ', 'g'),
             '\bRT\b|\bvia\b', ' ', 'g'),
             '#', '', 'g'),
             ':\)', ' happy ', 'g') AS cleaned
    FROM nation
    """,
)
def q84_tweet_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TweetCleaner (text/TweetCleaner.scala:28-47 via
    functions.text.clean_tweet): URL → link, @mention → user, RT/via
    dropped, # stripped, literal emoji-sentiment substitution — one
    synthetic tweet per nation. The engine's mention rule uses a
    lookbehind (Java regex); RE2 has none, so the oracle consumes the
    preceding char in a capture group and re-inserts it — verified
    equivalent on this fixture (mentions are never adjacent)."""
    from demy_spark.functions.text import clean_tweet

    t = _t(spark, sf_dir)
    s = F.concat(
        F.lit("RT @user"),
        F.col("n_nationkey").cast("string"),
        F.lit(": Gagnant :) #souriant voir https://t.co/x"),
        F.col("n_name"),
        F.lit(" via @media fin"),
    )
    return t["nation"].select(
        "n_nationkey",
        clean_tweet(s, sentiment_map=[(":)", "happy")]).alias("cleaned"),
    )


@register(
    "q85_sparse_merge",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
      FROM lineitem WHERE l_orderkey % 50 = 0),
    g1 AS (SELECT l_orderkey, CAST(l_linenumber % 3 AS INTEGER) AS dim,
                  sum(q) AS v
           FROM li GROUP BY 1, 2),
    g2 AS (SELECT l_orderkey, CAST(l_linenumber % 4 AS INTEGER) AS dim,
                  sum(q) AS v
           FROM li GROUP BY 1, 2)
    SELECT coalesce(g1.l_orderkey, g2.l_orderkey) AS l_orderkey,
           coalesce(g1.dim, g2.dim) AS dim,
           CAST(coalesce(g1.v, 0) + coalesce(g2.v, 0) AS BIGINT) AS value
    FROM g1 FULL OUTER JOIN g2
      ON g1.l_orderkey = g2.l_orderkey AND g1.dim = g2.dim
    """,
)
def q85_sparse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemanticVector sparse merge (linalg/implicits.scala:105-152 via
    functions.vectors.sparse_merge): two sparse map<dim,qty> vectors
    per order (line numbers bucketed mod 3 and mod 4) merge by
    union-of-indices sum inside one map_zip_with — no densification,
    no UDF. The exploded (order, dim, value) rows are oracle-checked
    against the equivalent full-outer-join sum."""
    from demy_spark.functions.vectors import sparse_merge

    t = _t(spark, sf_dir)
    li = t["lineitem"].where(F.col("l_orderkey") % 50 == 0).select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("ln"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("q"),
    )

    def side(mod: int):
        return (
            li.groupBy("l_orderkey", (F.col("ln") % mod).alias("k"))
            .agg(F.sum("q").alias("v"))
            .groupBy("l_orderkey")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("k", "v")))
                ).alias(f"m{mod}")
            )
        )

    merged = (
        side(3)
        .join(side(4), "l_orderkey")
        .select(
            "l_orderkey",
            F.explode(sparse_merge("m3", "m4")).alias("dim", "value"),
        )
    )
    return merged.select(
        "l_orderkey", "dim", F.col("value").cast("bigint").alias("value")
    )


# q76: frozen 8×64 topword matrix (deterministic literals on both sides).
_Q76_W = [
    [round(__import__("math").cos((ip + 1) + 0.37 * (d + 1)), 6) for d in range(64)]
    for ip in range(8)
]
_Q76_SPLIT = 140.0

_Q76_SQL = f"""
    WITH tw AS (
        SELECT ip, generate_subscripts(w, 1) - 1 AS d, unnest(w) AS wv
        FROM (VALUES {", ".join(
            f"({ip}, CAST([{', '.join(str(x) for x in _Q76_W[ip])}] AS DOUBLE[]))"
            for ip in range(8)
        )} ) AS t(ip, w)),
    twn AS (SELECT ip, sqrt(sum(wv * wv)) AS nw FROM tw GROUP BY 1),
    dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    vn AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    sims AS (
        -- coalesce: a zero-norm vector scores cosine 0 -> pScore 0.5
        -- (the engine's guard), not NULL dropped from the routed sum
        SELECT d.vec_id, t.ip,
               round((coalesce(sum(d.x * t.wv) / nullif(v.nx * n.nw, 0),
                               0) + 1) / 2, 6) AS s
        FROM dims d JOIN tw t USING (d) JOIN vn v ON v.vec_id = d.vec_id
        JOIN twn n ON n.ip = t.ip
        GROUP BY d.vec_id, t.ip, v.nx, n.nw),
    b0 AS (
        SELECT vec_id, ip, s, ip % 2 AS ic
        FROM (SELECT vec_id, ip, s,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY s DESC, ip) AS rk
              FROM sims) WHERE rk = 1),
    agg0 AS (SELECT count(*) AS n, round(sum(s), 6) AS ps FROM b0),
    -- dense over BOTH centers: a center with zero routed rows counts
    -- as 0 hits (the engine gates on c_hits.get(ic, 0) the same way)
    hits0 AS (SELECT min(coalesce(cnt, 0)) AS minh
              FROM (VALUES (0), (1)) c(ic)
              LEFT JOIN (SELECT ic, count(*) AS cnt FROM b0 GROUP BY 1) h
              USING (ic)),
    b1 AS (
        SELECT vec_id, a, ip, s, ((ip - a) // 2) % 2 AS ic
        FROM (SELECT b0.vec_id, b0.ic AS a, s2.ip, s2.s,
                     row_number() OVER (PARTITION BY b0.vec_id
                                        ORDER BY s2.s DESC, s2.ip) AS rk
              FROM b0 JOIN sims s2 ON s2.vec_id = b0.vec_id
                                   AND s2.ip % 2 = b0.ic
              WHERE (SELECT ps FROM agg0) > {_Q76_SPLIT})
        WHERE rk = 1),
    agg1 AS (
        SELECT base.a, coalesce(g.n, 0) AS n, coalesce(g.ps, 0.0) AS ps
        FROM (SELECT a FROM (VALUES (0), (1)) t(a)
              WHERE (SELECT ps FROM agg0) > {_Q76_SPLIT}) base
        LEFT JOIN (SELECT a, count(*) AS n, round(sum(s), 6) AS ps
                   FROM b1 GROUP BY 1) g USING (a)),
    sp1 AS (SELECT a, n, ps,
                   (ps > {_Q76_SPLIT}
                    AND (SELECT minh FROM hits0) > {_Q76_SPLIT}) AS sp
            FROM agg1),
    b2 AS (
        SELECT vec_id, a, b, ip, s
        FROM (SELECT b1.vec_id, b1.a, b1.ic AS b, s2.ip, s2.s,
                     row_number() OVER (PARTITION BY b1.vec_id
                                        ORDER BY s2.s DESC, s2.ip) AS rk
              FROM b1 JOIN sp1 ON sp1.a = b1.a AND sp1.sp
              JOIN sims s2 ON s2.vec_id = b1.vec_id AND s2.ip % 2 = b1.a
                           AND ((s2.ip - b1.a) // 2) % 2 = b1.ic)
        WHERE rk = 1),
    agg2 AS (
        SELECT s1.a, c.b, coalesce(g.n, 0) AS n, coalesce(g.ps, 0.0) AS ps
        FROM sp1 s1 CROSS JOIN (VALUES (0), (1)) c(b)
        LEFT JOIN (SELECT a, b, count(*) AS n, round(sum(s), 6) AS ps
                   FROM b2 GROUP BY 1, 2) g ON g.a = s1.a AND g.b = c.b
        WHERE s1.sp)
    SELECT 'root' AS node, 0 AS depth, 8 AS n_topwords, n AS n_rows,
           -- coalesced: an EMPTY corpus has routed mass 0 and does
           -- not spawn — NULL here diverged from the engine's sums
           coalesce(ps, 0.0) AS pscore_sum,
           (coalesce(ps, 0.0) > {_Q76_SPLIT}) AS spawned
    FROM agg0
    UNION ALL
    SELECT 'root/' || a, 1, 4, n, ps, sp FROM sp1
    UNION ALL
    SELECT 'root/' || a || '/' || b, 2, 2, n, ps, FALSE FROM agg2
"""


@register("q76_tree_spawn", _Q76_SQL, gate_embeddings=True)
def q76_tree_spawn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClusteringNode child spawning (topic/ClusteringNode.scala
    score:320-331 + fillChildren:572-597 via topic.grow_topic_tree):
    recursive childSplitSize tree growth over the embeddings table from
    a frozen 8-topword matrix — the spawn decision's inputs (routed
    pScore mass, per-center hit counts) are order-independent sums, so
    the whole tree grows distributed; the oracle unrolls all three
    levels (argmax routing, subset re-argmax, spawn gates) in SQL. The
    split threshold is chosen so one child spawns and its sibling fails
    the gate — both decision branches are value-checked."""
    from demy_spark.topic import grow_topic_tree

    t = _t(spark, sf_dir)
    return grow_topic_tree(
        _embw(t),
        "vec_id",
        "embedding",
        _Q76_W,
        n_centers=2,
        child_split_size=_Q76_SPLIT,
    )


# Frozen linear-scorer weights for q70 (deterministic, embedded as literals
# on both sides — the "weights as a fixture" that makes span detection
# SQL-expressible; the fit that would produce them is q38's LinearSVC).
_Q70_W = [round(__import__("math").sin(d + 1), 6) for d in range(64)]

_Q70_SQL = f"""
    WITH wt AS (
        SELECT generate_subscripts(arr, 1) - 1 AS d, unnest(arr) AS wv
        FROM (SELECT CAST([{", ".join(str(x) for x in _Q70_W)}] AS DOUBLE[]) AS arr)),
    dims AS (
        SELECT vec_id // 25 AS doc_id, vec_id % 25 AS pos,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    tok AS (
        SELECT doc_id, pos, sum(x * wv) AS tm
        FROM dims JOIN wt USING (d) GROUP BY 1, 2),
    cum AS (
        SELECT doc_id, pos,
               sum(tm) OVER (PARTITION BY doc_id ORDER BY pos) AS c,
               sum(tm) OVER (PARTITION BY doc_id ORDER BY pos) - tm AS cp
        FROM tok),
    spans AS (
        SELECT e.doc_id, s.pos AS i, e.pos AS j, e.c - s.cp AS m
        FROM cum e JOIN cum s
          ON s.doc_id = e.doc_id AND s.pos BETWEEN e.pos - 4 AND e.pos),
    best AS (
        SELECT doc_id, i, j, m,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY m DESC, i ASC, j ASC) AS rk
        FROM spans)
    SELECT doc_id,
           CAST(i AS INTEGER) AS span_start,
           CAST(j AS INTEGER) AS span_end,
           round(m, 4) + 0.0 AS margin,
           round(0.5 + atan(m) / pi(), 4) + 0.0 AS score
    FROM best WHERE rk = 1
"""


@register("q70_span_detect", _Q70_SQL, gate_embeddings=True)
def q70_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-span detection (ClassifierNode.scala:99-166 via
    operators.spans): embeddings grouped into 25-token documents, the
    length-≤5 span maximizing a frozen linear scorer found with ONE
    running-min window pass (prefix-summed per-token dots), not a
    per-row Python scan. The DuckDB oracle enumerates every span of
    length ≤5 and takes the identical argmax (ties → earliest start,
    then end). Margin→score calibration is monotonic, so the margin
    argmax is the score argmax."""
    from demy_spark.operators.spans import detect_best_span

    t = _t(spark, sf_dir)
    tokens = _embw(t).select(
        (F.col("vec_id") / 25).cast("long").alias("doc_id"),
        (F.col("vec_id") % 25).cast("int").alias("pos"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    best = detect_best_span(
        tokens,
        doc_col="doc_id",
        pos_col="pos",
        vec_col="vec",
        weights=_Q70_W,
        bias=0.0,
        window_size=5,
    )
    return best.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.round("margin", 4) + F.lit(0.0)).alias("margin"),
        (F.round("score", 4) + F.lit(0.0)).alias("score"),
    )


def _q69_level_sql(i: int, base_id: int) -> str:
    """One hierarchy level: cosine-distance matrix over centers l{i},
    greedy nearest-pair matching replayed as a recursive CTE (state =
    sorted remaining ids + emitted pairs; each step pairs the smallest
    remaining id with its nearest remaining successor — exactly
    HierarchyBuilder.addParentsFor's scan order), then parent centers
    as element-wise SUMS of children."""
    return f"""
    n{i} AS (SELECT cid, sqrt(sum(m * m)) AS nrm FROM l{i} GROUP BY 1),
    dot{i} AS (
        SELECT a.cid AS l, b.cid AS r, sum(a.m * b.m) AS dp
        FROM l{i} a JOIN l{i} b ON a.d = b.d AND b.cid > a.cid
        GROUP BY 1, 2),
    d{i} AS (
        SELECT dt.l, dt.r,
               1 - coalesce(dt.dp / nullif(na.nrm * nb.nrm, 0), 0) AS dist
        FROM dot{i} dt
        JOIN n{i} na ON na.cid = dt.l
        JOIN n{i} nb ON nb.cid = dt.r),
    rec{i}(remaining, pairs) AS (
        SELECT (SELECT list(cid ORDER BY cid) FROM n{i}),
               CAST([] AS STRUCT(l BIGINT, r BIGINT)[])
        UNION ALL
        SELECT CASE WHEN best IS NULL THEN CAST([] AS BIGINT[])
                    ELSE list_filter(remaining, x -> x <> cur AND x <> best)
               END,
               list_append(pairs, {{'l': cur, 'r': best}})
        FROM (
            SELECT remaining, pairs, remaining[1] AS cur,
                   (SELECT dd.r FROM d{i} dd
                    WHERE dd.l = remaining[1]
                      AND list_contains(remaining, dd.r)
                    ORDER BY dd.dist, dd.r LIMIT 1) AS best
            FROM rec{i} WHERE len(remaining) > 0) s),
    par{i} AS (
        SELECT {base_id} + k AS pid, pr.l AS c1, pr.r AS c2
        FROM (SELECT unnest(pairs) AS pr, generate_subscripts(pairs, 1) AS k
              FROM rec{i} WHERE len(remaining) = 0) u),
    l{i + 1} AS (
        SELECT p.pid AS cid, c.d, sum(c.m) AS m
        FROM par{i} p JOIN l{i} c ON c.cid = p.c1 OR c.cid = p.c2
        GROUP BY 1, 2),"""


_Q69_SQL = (
    """
    WITH RECURSIVE
    dims AS (
        SELECT vec_id % 8 AS cid,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    l0 AS (SELECT cid, d, avg(x) AS m FROM dims GROUP BY 1, 2),"""
    + _q69_level_sql(0, 7)
    + _q69_level_sql(1, 11)
    + _q69_level_sql(2, 13)
    + """
    n3 AS (SELECT cid, sqrt(sum(m * m)) AS nrm FROM l3 GROUP BY 1),
    norms AS (
        SELECT cid, 0 AS lvl, nrm FROM n0
        UNION ALL SELECT cid, 1, nrm FROM n1
        UNION ALL SELECT cid, 2, nrm FROM n2
        UNION ALL SELECT cid, 3, nrm FROM n3),
    edges AS (
        SELECT c1 AS cid, pid FROM par0
        UNION ALL SELECT c2, pid FROM par0 WHERE c2 IS NOT NULL
        UNION ALL SELECT c1, pid FROM par1
        UNION ALL SELECT c2, pid FROM par1 WHERE c2 IS NOT NULL
        UNION ALL SELECT c1, pid FROM par2
        UNION ALL SELECT c2, pid FROM par2 WHERE c2 IS NOT NULL),
    childcount AS (SELECT pid, count(*) AS nch FROM edges GROUP BY 1)
    SELECT CAST(n.cid AS BIGINT) AS center_id,
           CAST(coalesce(e.pid, -1) AS BIGINT) AS parent_id,
           CAST(3 - n.lvl AS INTEGER) AS depth,
           CAST(coalesce(ch.nch, 0) AS INTEGER) AS n_children,
           round(n.nrm, 4) + 0.0 AS center_norm
    FROM norms n
    LEFT JOIN edges e ON e.cid = n.cid
    LEFT JOIN childcount ch ON ch.pid = n.cid
    """
)


@register("q69_center_hierarchy", _Q69_SQL)
def q69_center_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agglomerative center hierarchy (HierarchyBuilder.scala:6-232 via
    demy_spark.hierarchy): 8 deterministic leaf centers (embeddings
    bucketed by vec_id % 8, element-wise mean — a distributed agg),
    then greedy nearest-pair levels 8→4→2→1 with parent = SUM of
    children. Power-of-two leaf count provably never triggers the
    merge/split adjustment, so the DuckDB oracle replays the exact
    greedy pairing with one recursive CTE per level. Scale shape: the
    O(k²) agglomeration runs on k collected centers (dictionary-sized);
    everything data-sized stays in the centroid agg."""
    from demy_spark.hierarchy import build_center_hierarchy

    t = _t(spark, sf_dir)
    dims = t["embeddings"].select(
        (F.col("vec_id") % 8).alias("center_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
    )
    centers = (
        dims.groupBy("center_id", "d")
        .agg(F.avg("x").alias("m"))
        .groupBy("center_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda s: s["m"],
            ).alias("center")
        )
    )
    out = build_center_hierarchy(centers, "center_id", "center")
    return out.select(
        "center_id",
        "parent_id",
        "depth",
        "n_children",
        (F.round("center_norm", 4) + F.lit(0.0)).alias("center_norm"),
    )


@register(
    "q67_event_followup",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           count(*)                         AS n_pairs,
           count(DISTINCT c.event_id)       AS n_clicks_followed,
           sum(CAST(floor(p.value * 100 + 0.5) AS BIGINT)) / 100.0 AS followed_value
    FROM clicks c
    JOIN purchases p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def q67_event_followup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval correlation — the batch twin of the
    watermarked stream-stream join (streaming.joins.interval_join; the
    reference correlates events only in scheduled batch re-scans,
    twitter/Execute.scala:58-98 + Airflow). Co-keyed equi-join on
    user_id with the interval as residual predicate: ONE shuffle, state
    bounded by watermark + interval width when run as a stream."""
    from demy_spark.streaming.joins import interval_join

    t = _t(spark, sf_dir)
    ev = t["events"]
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    pairs = interval_join(
        clicks,
        purchases,
        on="user_id",
        lower="0 seconds",
        upper="30 minutes",
    )
    cents = F.floor(F.col("r_value") * 100 + 0.5).cast("bigint")
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("event_id").alias("n_clicks_followed"),
        (F.sum(cents) / 100.0).alias("followed_value"),
    )


@register(
    "q86_contamination_check",
    f"""
    WITH sh AS (
      -- both keys coalesced: zero-token and NULL-text docs share the
      -- '' normalized fingerprint (two empty-normalized docs ARE
      -- exact duplicates — the Spark side already says so) and an
      -- empty shingle list, never NULL (degenerate-fuzz)
      SELECT doc_id,
             coalesce(list_distinct([('0x' || substring(md5(
                 array_to_string(({_TOKS_SQL})[i:i+2], ' ')), 1, 15))::BIGINT
               FOR i IN range(1, len({_TOKS_SQL}) - 1)]), []) AS shs,
             md5(coalesce(array_to_string({_TOKS_SQL}, ' '), '')) AS fp
      FROM documents),
    train AS (SELECT * FROM sh WHERE doc_id % 5 != 0),
    test AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
    tsh AS (SELECT DISTINCT unnest(shs) AS h FROM train),
    tfp AS (SELECT DISTINCT fp FROM train),
    hits AS (
      SELECT te.doc_id, count(*) AS n_hit
      FROM (SELECT doc_id, unnest(shs) AS h FROM test) te
      JOIN tsh USING (h) GROUP BY 1),
    ex AS (SELECT DISTINCT te.doc_id FROM test te JOIN tfp USING (fp))
    SELECT t.doc_id,
           CAST(len(t.shs) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(CASE WHEN len(t.shs) > 0
                      THEN coalesce(h.n_hit, 0) / len(t.shs)
                      ELSE 0.0 END, 6) + 0.0 AS overlap_ratio,
           CAST(e.doc_id IS NOT NULL AS BIGINT) AS exact_dup,
           CAST(e.doc_id IS NOT NULL
                OR (len(t.shs) > 0
                    AND coalesce(h.n_hit, 0) / len(t.shs) >= 0.5)
                AS BIGINT) AS contaminated
    FROM test t
    LEFT JOIN hits h USING (doc_id)
    LEFT JOIN ex e USING (doc_id)
    """,
)
def q86_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.contamination_check
    — LLM-pipeline extension; the reference's nearest analog is exact
    groupBy dedup): documents split 80/20 into train/test by id, each
    test doc scored by the fraction of its distinct word-trigram
    shingles (60-bit md5-slice hashes) found anywhere in train, plus an
    exact normalized-fingerprint flag. The train side reduces to
    DISTINCT shingle hashes before a co-keyed LEFT SEMI join — nothing
    dictionary-sized is assumed, so the shape survives a train corpus
    that cannot be broadcast."""
    from demy_spark.operators.curation import contamination_check

    t = _t(spark, sf_dir)
    docs = t["documents"]
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    out = contamination_check(train, test, "doc_id", "text", n=3, threshold=0.5)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_hit",
        (F.col("overlap_ratio") + F.lit(0.0)).alias("overlap_ratio"),
        F.col("exact_dup").cast("long").alias("exact_dup"),
        F.col("contaminated").cast("long").alias("contaminated"),
    )


@register(
    "q87_canonical_docs",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(({_TOKS_SQL})[1:3], ' ')) AS fp
      FROM documents WHERE len({_TOKS_SQL}) >= 3),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY fp
                                ORDER BY n_chars DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY fp) AS n_members
      FROM keyed)
    SELECT fp, doc_id AS canonical_id,
           CAST(n_members AS BIGINT) AS n_members, n_chars
    FROM ranked WHERE rk = 1 AND n_members > 1
    """,
)
def q87_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection (operators/curation.
    canonical_per_cluster): after exact duplicate clustering (q18's
    3-token-prefix fingerprint), keep ONE representative per cluster —
    the longest text, ties to the smallest id — the 'keep best copy'
    step between dedup and training. One window over the cluster key;
    WindowGroupLimit prunes to the per-cluster best before the
    exchange, the same scale shape as topN-per-group."""
    from demy_spark.operators.curation import canonical_per_cluster

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    keyed = (
        t["documents"]
        .where(F.size(toks) >= 3)
        .select(
            "doc_id",
            "n_chars",
            F.md5(F.concat_ws(" ", F.slice(toks, 1, 3))).alias("fp"),
        )
    )
    kept = canonical_per_cluster(
        keyed, "doc_id", "fp", [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    return kept.where(F.col("n_members") > 1).select(
        "fp",
        F.col("doc_id").alias("canonical_id"),
        F.col("n_members").cast("long").alias("n_members"),
        "n_chars",
    )


_Q88_WEIGHTS = {"en": 0.42, "zh": 0.23, "es": 0.17, "de": 0.11, "fr": 0.07}
_Q88_TOTAL = 503

_Q88_W_SQL = "CASE lang " + " ".join(
    f"WHEN '{s}' THEN {w}" for s, w in sorted(_Q88_WEIGHTS.items())
) + " END"


@register(
    "q88_mixture_sample",
    f"""
    WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    pres AS (
      SELECT lang, n, {_Q88_W_SQL} AS w FROM cnt
      WHERE {_Q88_W_SQL} IS NOT NULL),
    ap AS (
      SELECT lang, n,
             CAST(floor(w * {_Q88_TOTAL}) AS BIGINT) AS base,
             w * {_Q88_TOTAL} - floor(w * {_Q88_TOTAL}) AS frac
      FROM pres),
    tg AS (
      SELECT lang, n,
             least(n, base + CASE WHEN row_number() OVER
                     (ORDER BY frac DESC, lang)
                   <= {_Q88_TOTAL} - (SELECT sum(base) FROM ap)
                   THEN 1 ELSE 0 END) AS target
      FROM ap),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY ((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                        doc_id) AS rk
      FROM documents),
    kept AS (
      SELECT r.lang, r.doc_id
      FROM ranked r JOIN tg USING (lang) WHERE r.rk <= tg.target)
    SELECT t.lang, CAST(t.n AS BIGINT) AS n_total,
           CAST(t.target AS BIGINT) AS target,
           CAST(count(k.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS checksum
    FROM tg t LEFT JOIN kept k USING (lang)
    GROUP BY t.lang, t.n, t.target
    """, gate_doc_ids=True)
def q88_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing (operators/curation.mixture_sample):
    a 503-row training mix over languages with
    largest-remainder apportionment of per-stratum targets, capped at
    availability (en caps at some SFs, zh always — both branches
    exercised), rows chosen bottom-k by Knuth unit hash. Apportionment
    windows run on the dictionary-sized count frame; the data pays one
    shuffle. Output is the per-stratum audit summary."""
    from demy_spark.operators.curation import mixture_sample, mixture_targets

    t = _t(spark, sf_dir)
    docs = _docw(t)
    kept = mixture_sample(docs, "doc_id", "lang", _Q88_WEIGHTS, _Q88_TOTAL)
    # audit from the TARGETS side so a target-0 stratum still reports
    # its row (an aggregate over kept rows alone would omit it — the
    # oracle's tg LEFT JOIN kept shape)
    targets = mixture_targets(docs, "lang", _Q88_WEIGHTS, _Q88_TOTAL)
    summary = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("_nk_"),
        F.sum("doc_id").alias("_ck_"),
    )
    return targets.join(summary, "lang", "left").select(
        "lang",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("target").cast("long").alias("target"),
        F.coalesce("_nk_", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("_ck_", F.lit(0)).cast("long").alias("checksum"),
    )


@register(
    "q89_pq_ann_topk",
    """
    WITH dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    sd AS (SELECT vec_id, d // 16 AS sub, d % 16 AS dl, x FROM dims),
    cent0 AS (
        SELECT sub, vec_id % 8 AS c, dl, avg(x) AS m
        FROM sd GROUP BY 1, 2, 3),
    d0 AS (
        SELECT sd.vec_id, sd.sub, c0.c,
               round(sum((sd.x - c0.m) * (sd.x - c0.m)), 9) AS d2
        FROM sd JOIN cent0 c0 ON sd.sub = c0.sub AND sd.dl = c0.dl
        GROUP BY 1, 2, 3),
    a0 AS (
        SELECT vec_id, sub, c FROM (
            SELECT vec_id, sub, c, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d2, c) AS rk
            FROM d0) WHERE rk = 1),
    cent1 AS (
        SELECT sd.sub, a0.c, sd.dl, avg(sd.x) AS m
        FROM sd JOIN a0 ON sd.vec_id = a0.vec_id AND sd.sub = a0.sub
        GROUP BY 1, 2, 3),
    d1 AS (
        SELECT sd.vec_id, sd.sub, c1.c,
               round(sum((sd.x - c1.m) * (sd.x - c1.m)), 9) AS d2
        FROM sd JOIN cent1 c1 ON sd.sub = c1.sub AND sd.dl = c1.dl
        GROUP BY 1, 2, 3),
    codes AS (
        SELECT vec_id, sub, c AS code FROM (
            SELECT vec_id, sub, c, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d2, c) AS rk
            FROM d1) WHERE rk = 1),
    qlut AS (
        SELECT sd.vec_id AS query_id, sd.sub, c1.c AS code,
               round(sum((sd.x - c1.m) * (sd.x - c1.m)), 9) AS d2
        FROM sd JOIN cent1 c1 ON sd.sub = c1.sub AND sd.dl = c1.dl
        WHERE sd.vec_id < 5
        GROUP BY 1, 2, 3),
    scored AS (
        SELECT q.query_id, codes.vec_id AS neighbor_id,
               round(sum(q.d2), 6) AS adist
        FROM codes JOIN qlut q
          ON codes.sub = q.sub AND codes.code = q.code
        WHERE codes.vec_id != q.query_id
        GROUP BY 1, 2),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk
        FROM scored)
    SELECT query_id, neighbor_id, adist + 0.0 AS adist, rk::INTEGER AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q89_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_build +
    pq_adc_topk) — the memory-compression scale path beside exact
    (q23), LSH (q29) and IVF (q53): 64-dim vectors compress to 4
    codebook codes (4 subspaces × 8 centroids, deterministic seeds +
    one Lloyd round, trained fully in-plan), queries score the whole
    codes table from an m×ksub distance LUT without touching raw
    vectors. The oracle replays seeds → Lloyd round → encode → ADC
    verbatim. Ranking keys on the 6dp-rounded distance (vectors
    sharing a code tuple are exact ADC ties by construction)."""
    from demy_spark.operators.similarity import pq_adc_topk, pq_build

    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    codebook, codes = pq_build(emb, "embedding", "vec_id", m=4, ksub=8)
    queries_df = emb.where(F.col("vec_id") < 5)
    out = pq_adc_topk(
        codebook, codes, queries_df, "embedding", "vec_id", k=5
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.col("adist") + F.lit(0.0)).alias("adist"),
        F.col("rk").cast("int").alias("rk"),
    )


@register(
    "q90_histogram_quantiles",
    """
    WITH hist AS (
      SELECT least(63, greatest(0, CAST(floor(n_chars / 10.0) AS BIGINT))) AS bin,
             count(*) AS n
      FROM documents GROUP BY 1),
    c AS (
      SELECT bin, n,
             sum(n) OVER (ORDER BY bin) AS cum,
             sum(n) OVER (ORDER BY bin) - n AS cumb,
             sum(n) OVER () AS ntot
      FROM hist),
    -- the list literal infers DECIMAL; cast so q*ntot runs in DOUBLE
    -- exactly like Spark (decimal 0.1*500 is exact, double is not)
    qs AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q),
    hit AS (
      SELECT q, bin, n, cumb, ntot,
             row_number() OVER (PARTITION BY q ORDER BY bin) AS rk
      FROM qs JOIN c ON c.cum >= q * c.ntot)
    SELECT q + 0.0 AS q,
           round(bin * 10.0 + (q * ntot - cumb) / n * 10.0, 6) + 0.0 AS qvalue,
           CAST(bin AS BIGINT) AS bin,
           CAST(ntot AS BIGINT) AS n_total
    FROM hit WHERE rk = 1
    """,
)
def q90_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution stats from a mergeable single-pass
    sketch (operators/sketches.equi_width_histogram +
    histogram_quantiles): 64 fixed bins over n_chars, quantiles
    interpolated from exact integer bin counts. Unlike
    ``approx_percentile`` (engine-private sampling), every output bit
    is reproducible by any SQL engine — the oracle recomputes bins,
    cumulative counts and the interpolation verbatim. The histogram is
    the only data-scale aggregation; quantile math runs on the ≤64-row
    frame."""
    from demy_spark.operators.sketches import (
        equi_width_histogram,
        histogram_quantiles,
    )

    t = _t(spark, sf_dir)
    hist = equi_width_histogram(
        t["documents"], "n_chars", bins=64, lo=0.0, hi=640.0
    )
    out = histogram_quantiles(
        hist, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99], bins=64, lo=0.0, hi=640.0
    )
    return out.select(
        (F.col("q") + F.lit(0.0)).alias("q"),
        (F.round("qvalue", 6) + F.lit(0.0)).alias("qvalue"),
        F.col("bin").cast("long").alias("bin"),
        F.col("n_total").cast("long").alias("n_total"),
    )


@register(
    "q91_pii_redaction",
    r"""
    WITH built AS (
      SELECT c_custkey,
             'Contact user' || CAST(c_custkey % 97 AS VARCHAR)
             || ' at +' || CAST(100 + c_custkey % 900 AS VARCHAR)
             || ' ' || CAST(1000000 + c_custkey % 9000000 AS VARCHAR)
             || ' or user' || CAST(c_custkey % 97 AS VARCHAR)
             || '@example.com; node 10.' || CAST(c_custkey % 256 AS VARCHAR)
             || '.0.' || CAST(c_custkey % 100 AS VARCHAR)
             || ' logged.' AS txt
      FROM customer WHERE c_custkey % 20 = 0)
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(
               regexp_replace(txt,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted
    FROM built
    """,
)
def q91_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/text.redact_pii) — the pre-training
    privacy pass: emails, IPv4 addresses and phone-shaped digit runs
    replaced by typed placeholders via a pure JVM-side regexp chain (a
    narrow per-row expression at any scale). The fixture synthesizes
    the PII deterministically from customer keys so both engines build
    and redact the identical strings."""
    from demy_spark.functions.text import redact_pii

    t = _t(spark, sf_dir)
    c = F.col("c_custkey")
    s = lambda e: e.cast("string")  # noqa: E731
    txt = F.concat(
        F.lit("Contact user"), s(c % 97),
        F.lit(" at +"), s(c % 900 + 100),
        F.lit(" "), s(c % 9000000 + 1000000),
        F.lit(" or user"), s(c % 97),
        F.lit("@example.com; node 10."), s(c % 256),
        F.lit(".0."), s(c % 100),
        F.lit(" logged."),
    )
    return (
        t["customer"]
        .where(c % 20 == 0)
        .select("c_custkey", redact_pii(txt).alias("redacted"))
    )


@register(
    "q92_gopher_rules",
    f"""
    WITH s AS (
      SELECT doc_id, {_TOKS_WS_SQL} AS t FROM documents),
    g AS (
      SELECT doc_id, t, len(t) AS n_tok,
             [array_to_string(t[i:i+1], ' ')
              FOR i IN range(1, len(t))] AS bigrams
      FROM s),
    m AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok > 0
                  THEN list_sum(list_transform(t, x -> length(x))) / n_tok
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN len(bigrams) > 0
                  THEN 1.0 - len(list_distinct(bigrams)) / len(bigrams)
                  ELSE 0.0 END AS dup2,
             len(list_filter(t,
                 x -> x IN ('the','of','and','to','in','is','that','it','for','was')))
                 AS sw_hits
      FROM g)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           round(mean_wl, 4) + 0.0 AS mean_wl,
           round(dup2, 4) + 0.0 AS dup2,
           CAST(n_tok >= 10 AND n_tok <= 100000 AS BIGINT) AS ok_words,
           CAST(mean_wl >= 2.0 AND mean_wl <= 12.0 AS BIGINT) AS ok_mean_word_len,
           CAST(dup2 <= 0.3 AS BIGINT) AS ok_dup2,
           CAST(sw_hits > 0 AS BIGINT) AS has_stopword,
           CAST(n_tok >= 10 AND n_tok <= 100000
                AND mean_wl >= 2.0 AND mean_wl <= 12.0
                AND dup2 <= 0.3 AND sw_hits > 0 AS BIGINT) AS keep
    FROM m
    """,
)
def q92_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-quality rule filtering in the style of the published
    corpus heuristics (functions/textstats.gopher_rules +
    dup_ngram_fraction): word-count bounds, mean-word-length sanity,
    within-doc duplicate-bigram fraction, stopword gibberish guard —
    all narrow per-row expressions, so the keep/drop decision is a
    pushdown-friendly predicate at 100 TB."""
    from demy_spark.functions import textstats

    t = _t(spark, sf_dir)
    low = F.lower(F.col("text"))  # the oracle lowercases; keep parity
    toks = textstats.ws_norm_tokens(F.col("text"))
    n_tok = F.size(toks)
    mean_wl = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    dup2 = textstats.dup_ngram_fraction(low, 2)
    rules = textstats.gopher_rules(low)
    return t["documents"].select(
        "doc_id",
        n_tok.cast("long").alias("n_tok"),
        (F.round(mean_wl, 4) + F.lit(0.0)).alias("mean_wl"),
        (F.round(dup2, 4) + F.lit(0.0)).alias("dup2"),
        rules["ok_words"].cast("long").alias("ok_words"),
        rules["ok_mean_word_len"].cast("long").alias("ok_mean_word_len"),
        rules["ok_dup2"].cast("long").alias("ok_dup2"),
        rules["has_stopword"].cast("long").alias("has_stopword"),
        rules["keep"].cast("long").alias("keep"),
    )


@register(
    "q93_curation_pipeline",
    f"""
    WITH s AS (
      SELECT doc_id, lang, n_chars, {_TOKS_WS_SQL} AS t FROM documents),
    m AS (
      SELECT doc_id, lang, n_chars, len(t) AS n_tok,
             CASE WHEN len(t) >= 2 THEN 1.0 - len(list_distinct(
                 [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]))
                 / (len(t) - 1) ELSE 0.0 END AS dup2,
             CASE WHEN len(t) >= 3
                  THEN md5(array_to_string(t[1:3], ' ')) END AS fp
      FROM s),
    q AS (SELECT * FROM m WHERE n_tok >= 20 AND dup2 <= 0.1),
    can AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang, row_number() OVER (
            PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rk
        FROM q) WHERE rk = 1),
    cnt AS (SELECT lang, count(*) AS n FROM can GROUP BY 1),
    pres AS (
      SELECT lang, n, {_Q88_W_SQL} AS w FROM cnt
      WHERE {_Q88_W_SQL} IS NOT NULL),
    ap AS (
      SELECT lang, n,
             CAST(floor(w * 200) AS BIGINT) AS base,
             w * 200 - floor(w * 200) AS frac
      FROM pres),
    tg AS (
      SELECT lang, n,
             least(n, base + CASE WHEN row_number() OVER
                     (ORDER BY frac DESC, lang)
                   <= 200 - (SELECT sum(base) FROM ap)
                   THEN 1 ELSE 0 END) AS target
      FROM ap),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY ((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                        doc_id) AS rk
      FROM can),
    kept AS (
      SELECT r.lang, r.doc_id
      FROM ranked r JOIN tg USING (lang) WHERE r.rk <= tg.target)
    SELECT t.lang, CAST(t.n AS BIGINT) AS n_candidates,
           CAST(t.target AS BIGINT) AS target,
           CAST(count(k.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS checksum
    FROM tg t LEFT JOIN kept k USING (lang)
    GROUP BY t.lang, t.n, t.target
    """,
)
def q93_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE orchestrated Model — the
    composition a real training-data run executes: quality filter
    (token floor + duplicate-bigram cap) → canonical doc per exact-dup
    cluster → deterministic language mixture → per-stratum audit. Each
    stage is a Step wired through the orchestrator (Model.scala:17-257
    semantics), so snapshots/reuse apply between stages; the oracle
    replays the whole chain in one SQL statement. Every stage is a
    narrow filter, a keyed window, or a broadcast-planned sample — the
    pipeline inherits each operator's scale shape unchanged."""
    from demy_spark.functions import textstats
    from demy_spark.operators.curation import (
        canonical_per_cluster,
        mixture_sample,
        mixture_targets,
    )
    from demy_spark.orchestrator import Model, Step

    t = _t(spark, sf_dir)
    low = F.lower(F.col("text"))

    def quality(df):
        toks = textstats.ws_norm_tokens(F.col("text"))
        dup2 = textstats.dup_ngram_fraction(low, 2)
        return df.where((F.size(toks) >= 20) & (dup2 <= 0.1)).select(
            "doc_id",
            "lang",
            "n_chars",
            F.md5(F.concat_ws(" ", F.slice(toks, 1, 3))).alias("fp"),
        )

    def canonical(df):
        return canonical_per_cluster(
            df, "doc_id", "fp", [F.col("n_chars").desc(), F.col("doc_id").asc()]
        ).select("doc_id", "lang")

    def mix(df):
        return mixture_sample(df, "doc_id", "lang", _Q88_WEIGHTS, 200)

    def stats(candidates, kept):
        # audit from the apportionment plan, not the kept rows: a
        # target-0 stratum keeps nothing and would vanish from an
        # aggregate over kept alone (the oracle's tg LEFT JOIN shape)
        targets = mixture_targets(candidates, "lang", _Q88_WEIGHTS, 200)
        summary = kept.groupBy("lang").agg(
            F.count(F.lit(1)).alias("_nk_"),
            F.sum("doc_id").alias("_ck_"),
        )
        return targets.join(summary, "lang", "left").select(
            "lang",
            "n_total",
            "target",
            F.coalesce("_nk_", F.lit(0)).alias("n_kept"),
            F.coalesce("_ck_", F.lit(0)).alias("checksum"),
        )

    model = Model(
        "curation",
        [
            Step("quality", quality, inputs=["#documents"]),
            # canonical feeds THREE consumers (mix's apportionment,
            # mix's rank window, the stats audit) — cache it or the
            # quality+canonical chain re-executes per consumer
            Step("canonical", canonical, inputs=["$quality"], cache=True),
            Step("mix", mix, inputs=["$canonical"]),
            Step("stats", stats, inputs=["$canonical", "$mix"]),
        ],
    )
    out = model.run(spark, {"documents": t["documents"]})["stats"]
    return out.select(
        "lang",
        F.col("n_total").cast("long").alias("n_candidates"),
        F.col("target").cast("long").alias("target"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "checksum",
    )


@register(
    "q94_sequence_pack",
    f"""
    WITH d AS (
      -- coalesced: a NULL-text doc packs as 0 tokens in both engines
      -- (Spark size(NULL) is -1, DuckDB len(NULL) is NULL — both
      -- corrupt the prefix sums; degenerate-fuzz)
      SELECT doc_id, CAST(coalesce(len({_TOKS_SQL}), 0) AS BIGINT) AS n_tok
      FROM documents),
    h AS (
      SELECT doc_id, n_tok,
             (doc_id * 2654435761) % 4294967296 AS u,
             ((doc_id * 2654435761) % 4294967296) % 8 AS bucket
      FROM d),
    c AS (
      SELECT doc_id, n_tok, bucket,
             sum(n_tok) OVER (PARTITION BY bucket ORDER BY u, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM h),
    p AS (
      SELECT bucket, (cum - n_tok) // 256 AS pack, doc_id, n_tok
      FROM c)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(pack AS BIGINT) AS pack,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(least(sum(n_tok) / 256, 1.0), 6) + 0.0 AS fill_ratio,
           CAST(sum(doc_id) AS BIGINT) AS checksum
    FROM p GROUP BY 1, 2
    """, gate_doc_ids=True)
def q94_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.greedy_pack +
    pack_occupancy): documents laid out into 256-token training
    sequences, concat-and-chunk semantics, 8 deterministic hash
    buckets packed independently (the global order that would
    serialize on one reducer never exists). All-integer prefix sums —
    the oracle replays the full layout bit-for-bit. Output is the
    per-(bucket, pack) occupancy audit plus start-doc checksums."""
    from demy_spark.operators.packing import greedy_pack, pack_occupancy

    t = _t(spark, sf_dir)
    toks = F.coalesce(
        textstats.norm_tokens(F.col("text")), F.array().cast("array<string>")
    )
    docs = _docw(t).select(
        "doc_id", F.size(toks).cast("long").alias("n_tok")
    )
    packed = greedy_pack(docs, "doc_id", "n_tok", cap=256, buckets=8)
    occ = pack_occupancy(packed, cap=256)
    checks = packed.groupBy("bucket", "pack").agg(
        F.sum("doc_id").cast("long").alias("checksum")
    )
    return occ.join(checks, ["bucket", "pack"]).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("pack").cast("long").alias("pack"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("fill_ratio") + F.lit(0.0)).alias("fill_ratio"),
        "checksum",
    )


@register(
    "q95_ann_recall",
    """
    WITH dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings),
    sd AS (SELECT vec_id, d // 16 AS sub, d % 16 AS dl, x FROM dims),
    cent0 AS (
        SELECT sub, vec_id % 8 AS c, dl, avg(x) AS m
        FROM sd GROUP BY 1, 2, 3),
    d0 AS (
        SELECT sd.vec_id, sd.sub, c0.c,
               round(sum((sd.x - c0.m) * (sd.x - c0.m)), 9) AS d2
        FROM sd JOIN cent0 c0 ON sd.sub = c0.sub AND sd.dl = c0.dl
        GROUP BY 1, 2, 3),
    a0 AS (
        SELECT vec_id, sub, c FROM (
            SELECT vec_id, sub, c, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d2, c) AS rk
            FROM d0) WHERE rk = 1),
    cent1 AS (
        SELECT sd.sub, a0.c, sd.dl, avg(sd.x) AS m
        FROM sd JOIN a0 ON sd.vec_id = a0.vec_id AND sd.sub = a0.sub
        GROUP BY 1, 2, 3),
    d1 AS (
        SELECT sd.vec_id, sd.sub, c1.c,
               round(sum((sd.x - c1.m) * (sd.x - c1.m)), 9) AS d2
        FROM sd JOIN cent1 c1 ON sd.sub = c1.sub AND sd.dl = c1.dl
        GROUP BY 1, 2, 3),
    codes AS (
        SELECT vec_id, sub, c AS code FROM (
            SELECT vec_id, sub, c, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d2, c) AS rk
            FROM d1) WHERE rk = 1),
    qlut AS (
        SELECT sd.vec_id AS query_id, sd.sub, c1.c AS code,
               round(sum((sd.x - c1.m) * (sd.x - c1.m)), 9) AS d2
        FROM sd JOIN cent1 c1 ON sd.sub = c1.sub AND sd.dl = c1.dl
        WHERE sd.vec_id < 5
        GROUP BY 1, 2, 3),
    pq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, codes.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round(sum(q.d2), 6), codes.vec_id) AS rk
            FROM codes JOIN qlut q
              ON codes.sub = q.sub AND codes.code = q.code
            WHERE codes.vec_id != q.query_id
            GROUP BY 1, 2
        ) WHERE rk <= 5),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY qa.vec_id
                       ORDER BY list_cosine_similarity(qa.embedding::DOUBLE[],
                           qb.embedding::DOUBLE[]) DESC, qb.vec_id) AS rk
            FROM embeddings qa JOIN embeddings qb
              ON qa.vec_id < 5 AND qb.vec_id != qa.vec_id
        ) WHERE rk <= 5)
    SELECT e.query_id,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
           round(count(p.neighbor_id) / 5.0, 4) + 0.0 AS recall
    FROM exact e LEFT JOIN pq p
      ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
    GROUP BY e.query_id
    """, gate_embeddings=True)
def q95_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of the PQ/ADC path (q89)
    against the exact brute-force baseline (q23's operator), per query.
    This is the tuning loop a user runs when choosing m/ksub/nprobe:
    both rankings and the intersection are recomputed verbatim by the
    oracle, so the APPROXIMATION QUALITY itself is value-verified, not
    just the mechanics."""
    from demy_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_build,
    )

    t = _t(spark, sf_dir)
    emb = _embw(t)
    queries_df = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries_df, "embedding", "vec_id", k=5)
    codebook, codes = pq_build(emb, "embedding", "vec_id", m=4, ksub=8)
    approx = pq_adc_topk(codebook, codes, queries_df, "embedding", "vec_id", k=5)
    return (
        exact.select("query_id", "neighbor_id")
        .join(
            approx.select(
                F.col("query_id").alias("_qq_"),
                F.col("neighbor_id").alias("_pn_"),
            ),
            (F.col("query_id") == F.col("_qq_"))
            & (F.col("neighbor_id") == F.col("_pn_")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("_pn_").cast("long").alias("n_hits"),
            (F.round(F.count("_pn_") / 5.0, 4) + F.lit(0.0)).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Sub-document dedup (operators/subdoc): cross-document repeated-line
# removal and duplicated-substring span detection.
# ---------------------------------------------------------------------------

# 6-token chunk "lines": the documents fixture is single-line token
# soup, so both engines synthesize identical newline-delimited lines
# before the operator runs (1-based starts 1, 7, 13, ...).
_Q96_LINES_SQL = (
    f"[array_to_string(({_TOKS_SQL})[i:i+5], ' ') "
    f"FOR i IN range(1, len({_TOKS_SQL}) + 1, 6)]"
)


@register(
    "q96_line_dedup",
    f"""
    WITH chunks AS (
      SELECT doc_id, {_Q96_LINES_SQL} AS lns FROM documents),
    lines AS (
      SELECT doc_id, generate_subscripts(lns, 1) AS ln, unnest(lns) AS line
      FROM chunks),
    keyed AS (
      SELECT doc_id, ln, line,
             {_md5_long_sql("trim(lower(line))", 1)} AS h
      FROM lines WHERE trim(line) <> ''),
    boiler AS (SELECT h FROM keyed GROUP BY h HAVING count(DISTINCT doc_id) > 1),
    marked AS (
      SELECT k.doc_id, k.ln, k.line, (b.h IS NOT NULL) AS rm
      FROM keyed k LEFT JOIN boiler b ON k.h = b.h)
    SELECT doc_id,
           coalesce(array_to_string(list(line ORDER BY ln) FILTER (NOT rm),
                                    chr(10)), '') AS text_clean,
           CAST(count(*) AS BIGINT)                         AS n_lines,
           CAST(count(*) FILTER (rm) AS BIGINT)             AS n_removed,
           CAST(coalesce(sum(length(line)) FILTER (rm), 0) AS BIGINT)
             AS chars_removed
    FROM marked GROUP BY doc_id
    """,
)
def q96_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate line removal (operators/subdoc.line_dedup
    — LLM-pipeline extension; the reference dedups whole records only,
    `topic/Tag.scala:108-120`): documents are chunked into 6-token
    lines, each normalized line hashed to 60 bits, and every line
    appearing in MORE THAN ONE distinct document is stripped from all
    of them. Frequency reduces to (hash, df) before a co-keyed
    semi-join — nothing corpus-scale broadcast — and reassembly sorts
    (line_no, line) structs, so collect order never leaks."""
    from demy_spark.operators.subdoc import line_dedup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(6))
    # line synthesis + per-line hashing is compute-bound per row:
    # spread an unsplittable scan across cores before it (no-op on
    # production multi-row-group input — guide §2.5; measured r13:
    # 2.78 -> 1.75 on the one-row-group sf0.1 fixture)
    docs_nl = spread_narrow_scan(t["documents"]).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 6))),
        ).alias("text"),
    )
    out = line_dedup(docs_nl, "doc_id", "text", max_docs=1)
    return out.select(
        "doc_id",
        "text_clean",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.col("chars_removed").cast("long").alias("chars_removed"),
    )


@register(
    "q97_duplicated_spans",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    ghash AS (
      SELECT doc_id,
             [{_md5_long_sql("array_to_string(tk[i:i+4], ' ')", 1)}
              FOR i IN range(1, len(tk) - 3)] AS ghs
      FROM t WHERE len(tk) >= 5),
    grams AS (
      SELECT doc_id, generate_subscripts(ghs, 1) - 1 AS p, unnest(ghs) AS h
      FROM ghash),
    hot AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, g.p + d AS pos
      FROM grams g JOIN hot USING (h), unnest(range(0, 5)) AS u(d)),
    islands AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM covered)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS span_tokens
    FROM islands GROUP BY doc_id, grp
    """,
)
def q97_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring span detection (operators/subdoc.
    duplicated_spans — LLM-pipeline extension modeled on exact
    substring dedup a la Lee et al.; no reference analog): every token
    5-gram is hashed, grams whose corpus-wide occurrence count is >= 2
    (within-document repeats included) mark the positions they cover,
    and maximal covered runs merge into (start, end) spans via the
    pos - row_number island trick — one window per document, never
    global. The oracle rebuilds hashes, hot grams, coverage and
    islands verbatim."""
    from demy_spark.operators.subdoc import duplicated_spans

    t = _t(spark, sf_dir)
    out = duplicated_spans(t["documents"], "doc_id", "text", k=5, min_count=2)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


# ---------------------------------------------------------------------------
# Data selection (operators/selection): bigram-LM quality scoring and
# DSIR-style importance weighting. Every log term is quantized to
# integer micro-nats BEFORE aggregation (floor(x*1e6)::BIGINT), so the
# per-document scores are order-independent integer sums on both
# engines — the q57 money-sum lesson applied to log-likelihoods.
# ---------------------------------------------------------------------------

_Q98_PAIRS_SQL = "[tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]"


@register(
    "q98_lm_quality",
    f"""
    WITH tr AS (SELECT {_TOKS_SQL} AS tk FROM documents WHERE doc_id % 5 <> 0),
    sc AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents WHERE doc_id % 5 = 0),
    uni AS (
      SELECT {_md5_long_sql("w", 1)} AS hw, count(*) AS c1
      FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY w),
    voc AS (SELECT count(*) AS v FROM uni),
    bi AS (
      SELECT {_md5_long_sql("bg", 1)} AS h2, count(*) AS c2
      FROM (SELECT unnest({_Q98_PAIRS_SQL}) AS bg FROM tr) GROUP BY 1),
    probe AS (
      SELECT doc_id, bg,
             {_md5_long_sql("string_split(bg, ' ')[1]", 1)} AS hw,
             {_md5_long_sql("bg", 1)} AS h2
      FROM (SELECT doc_id, unnest({_Q98_PAIRS_SQL}) AS bg FROM sc)),
    terms AS (
      SELECT p.doc_id,
             CAST(floor(-ln((coalesce(bi.c2, 0) + 0.5)
                            / (coalesce(uni.c1, 0) + 0.5 * (voc.v + 1)))
                        * 1000000) AS BIGINT) AS nll
      FROM probe p
      LEFT JOIN bi ON p.h2 = bi.h2
      LEFT JOIN uni ON p.hw = uni.hw, voc)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(nll) AS BIGINT) AS nll_micro,
           round(sum(nll) / count(*) / 1000000, 6) + 0.0 AS avg_nll
    FROM terms GROUP BY doc_id
    """,
)
def q98_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/selection.bigram_lm_scores
    — LLM-pipeline extension; the distributed twin of KenLM-style
    perplexity filtering, expressed as counts + co-keyed joins): an
    add-0.5 bigram LM is fit on the 80% train split and every held-out
    document is scored by average negative log-likelihood. Counts
    reduce before the joins, corpus scalars ride a 1-row cross join,
    and each log term is floored to integer micro-nats so the document
    sum is aggregation-order-independent — the oracle replays hash,
    smoothing and quantization bit-for-bit."""
    from demy_spark.operators.selection import bigram_lm_scores

    t = _t(spark, sf_dir)
    docs = t["documents"]
    train = docs.where(F.col("doc_id") % 5 != 0)
    score = docs.where(F.col("doc_id") % 5 == 0)
    out = bigram_lm_scores(train, score, "doc_id", "text", add_k=0.5)
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("nll_micro").cast("long").alias("nll_micro"),
        (F.round(F.col("nll_micro") / F.col("n_bigrams") / 1000000, 6) + F.lit(0.0)).alias(
            "avg_nll"
        ),
    )


_Q99_BUCKETS = 1024


@register(
    "q99_dsir_select",
    f"""
    WITH tgt AS (
      SELECT {_md5_long_sql("w", 1)} % {_Q99_BUCKETS} AS b
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents
            WHERE source = 'src0')),
    raw AS (
      SELECT doc_id, {_md5_long_sql("w", 1)} % {_Q99_BUCKETS} AS b
      FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents)),
    ct AS (SELECT b, count(*) AS ct FROM tgt GROUP BY 1),
    cr AS (SELECT b, count(*) AS cr FROM raw GROUP BY 1),
    nt AS (SELECT sum(ct) AS nt FROM ct),
    nr AS (SELECT sum(cr) AS nr FROM cr),
    llr AS (
      SELECT coalesce(ct.b, cr.b) AS b,
             CAST(floor((ln((coalesce(ct.ct, 0) + 0.5)
                            / (nt.nt + 0.5 * {_Q99_BUCKETS}))
                         - ln((coalesce(cr.cr, 0) + 0.5)
                              / (nr.nr + 0.5 * {_Q99_BUCKETS})))
                        * 1000000) AS BIGINT) AS llr
      FROM ct FULL JOIN cr ON ct.b = cr.b, nt, nr),
    scored AS (
      SELECT r.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(l.llr) AS BIGINT) AS llr_micro
      FROM raw r JOIN llr l ON r.b = l.b GROUP BY 1)
    SELECT doc_id, n_tokens, llr_micro,
           round(llr_micro / n_tokens / 1000000, 6) + 0.0 AS avg_llr
    FROM scored
    ORDER BY llr_micro * 1.0 / n_tokens DESC, doc_id
    LIMIT 60
    """,
)
def q99_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/selection.dsir_scores —
    LLM-pipeline extension after Xie et al. 2023): token buckets
    hashed to 1024 features, target distribution estimated on the
    'src0' slice, raw distribution on the whole corpus, and each
    document scored by its mean per-token log-likelihood ratio in
    integer micro-nats. The llr table is n_buckets rows at ANY corpus
    scale (explicitly broadcast); selection is orderBy().limit() —
    TakeOrderedAndProject, not a global sort. Top-60 by mean llr,
    ties to the smallest doc_id."""
    from demy_spark.operators.selection import dsir_scores

    t = _t(spark, sf_dir)
    docs = t["documents"]
    target = docs.where(F.col("source") == "src0")
    out = dsir_scores(docs, target, "doc_id", "text", n_buckets=_Q99_BUCKETS)
    return (
        out.orderBy(
            (F.col("llr_micro") * 1.0 / F.col("n_tokens")).desc(), "doc_id"
        )
        .limit(60)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("llr_micro").cast("long").alias("llr_micro"),
            (
                F.round(F.col("llr_micro") / F.col("n_tokens") / 1000000, 6)
                + F.lit(0.0)
            ).alias("avg_llr"),
        )
    )


_Q100_SQL = (
    """
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM corpus
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    cent0 AS (SELECT vec_id % 8 AS c, d, avg(x) AS m FROM dims GROUP BY 1, 2),"""
    + _kmeans_round_sql(1, "cent0")
    + _kmeans_round_sql(2, "cent1")
    + _kmeans_round_sql(3, "cent2")
    + _kmeans_round_sql(4, "cent3")
    + """
    rm AS (
        -- zero-norm guard mirrors semdedup's cos=0 contract (a bare
        -- list_cosine_similarity returns NaN there, and DuckDB sorts
        -- NaN above every number, which would flip keep)
        SELECT DISTINCT hi.vec_id AS rm_id
        FROM assign4 lo
        JOIN assign4 hi ON lo.c = hi.c AND lo.vec_id < hi.vec_id
        JOIN corpus ca ON ca.vec_id = lo.vec_id
        JOIN corpus cb ON cb.vec_id = hi.vec_id
        JOIN vnorm na ON na.vec_id = lo.vec_id
        JOIN vnorm nb ON nb.vec_id = hi.vec_id
        WHERE floor((CASE WHEN na.nx > 0 AND nb.nx > 0
               THEN list_cosine_similarity(ca.embedding::DOUBLE[],
                                           cb.embedding::DOUBLE[])
               ELSE 0 END) * 1000000) >= 950000)
    SELECT a.vec_id, CAST(a.c AS BIGINT) AS cluster,
           CAST((rm.rm_id IS NULL) AS BIGINT) AS keep
    FROM assign4 a LEFT JOIN rm ON a.vec_id = rm.rm_id
    """
)


@register("q100_semdedup", _Q100_SQL, gate_embeddings=True)
def q100_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.semdedup — LLM-pipeline extension
    after Abbas et al. 2023): embeddings plus exact clones of every
    5th vector are clustered by the deterministic IVF quantizer (seeds
    per id % 8, 3 fixed Lloyd rounds — the same quantizer the q53
    oracle unrolls), then every vector with a lower-id cluster member
    at cosine >= 0.95 is dropped — compared in integer micro-units on
    BOTH engines (floor(cos*1e6) >= 950000), so the few-ulp gap
    between Spark's dot/(|a||b|) fold and DuckDB's
    list_cosine_similarity cannot flip a keep decision. The pairwise
    stage never leaves a cluster (the published algorithm's own
    complexity bound); the oracle replays quantizer, assignment, and
    the in-cluster domination test verbatim. n_lists is pinned to 8
    here so the oracle CTEs stay a fixed unroll; production callers
    omit it and get the corpus-derived default.

    Registered on the default pairwise='blas' path DELIBERATELY: the
    matmul's summation order differs from both the SQL fold and
    DuckDB's list_cosine_similarity, so a keep decision could in
    principle flip if a pair's true cosine sat within ~1 ulp of an
    exact micro-boundary (P ~ pairs x 1e-9; none observed in any
    fixture generation, and fold/blas agreement is unit-pinned). If a
    future fixture ever lands on a boundary, re-register with
    pairwise='fold' (the bit-level mirror) and keep blas for bench."""
    from demy_spark.operators.dedup import semdedup

    t = _t(spark, sf_dir)
    emb = _embw(t)
    corpus = emb.select("vec_id", "embedding").unionAll(
        emb.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    out = semdedup(corpus, "embedding", "vec_id", n_lists=8, train_iters=3, tau=0.95)
    return out.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        F.col("keep").cast("long").alias("keep"),
    )


@register(
    "q101_incremental_dedup",
    f"""
    WITH docs AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shl
      FROM documents WHERE len({_TOKS_SQL}) >= 3),
    h AS (
      SELECT doc_id,
             {_md5_long_sql('s', 1)} AS h1,
             {_md5_long_sql('s', 16, 8)} & 2147483647 AS h2
      FROM (SELECT doc_id, unnest(shl) AS s FROM docs)),
    slots AS (
      SELECT doc_id, i.i, min(h1 + (2 * i.i + 1) * h2) AS slot
      FROM h, (SELECT unnest(range(128)) AS i) i
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, i // 4 AS band, list(slot ORDER BY i) AS key
      FROM slots GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        AND a.doc_id <> b.doc_id),
    jac AS (
      SELECT cand.batch_id, cand.index_id,
             round(CAST(len(list_intersect(da.shl, db.shl)) AS DOUBLE)
                   / len(list_distinct(list_concat(da.shl, db.shl))), 6)
                 AS jaccard
      FROM cand
      JOIN docs da ON cand.batch_id = da.doc_id
      JOIN docs db ON cand.index_id = db.doc_id)
    SELECT batch_id, index_id, jaccard + 0.0 AS jaccard
    FROM jac WHERE jaccard >= 0.5
    """,
)
def q101_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-batch) dedup against a stored MinHash index
    (operators/dedup.minhash_index / minhash_probe — LLM-pipeline
    extension; the production shape for '100 TB corpus already signed,
    probe today's crawl against it'): 80% of the documents are indexed
    (bands + shingle sets, the frames a pipeline persists to parquet),
    the 20% batch is signed with the identical Kirsch-Mitzenmacher
    family, and candidates come from an equi-join between band tables
    — incremental cost O(batch), independent of corpus size; never a
    self-join over the union. The oracle rebuilds both signatures and
    the band join bit-for-bit."""
    from demy_spark.operators.dedup import minhash_index, minhash_probe

    t = _t(spark, sf_dir)
    docs = t["documents"]
    bands_df, shingles_df = minhash_index(
        docs.where(F.col("doc_id") % 5 != 0), "text", "doc_id"
    )
    return minhash_probe(
        bands_df,
        shingles_df,
        docs.where(F.col("doc_id") % 5 == 0),
        "text",
        "doc_id",
        jaccard_threshold=0.5,
    )


@register(
    "q102_strip_spans",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    toks AS (
      SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS w
      FROM t),
    ghash AS (
      SELECT doc_id,
             [{_md5_long_sql("array_to_string(tk[i:i+4], ' ')", 1)}
              FOR i IN range(1, len(tk) - 3)] AS ghs
      FROM t WHERE len(tk) >= 5),
    grams AS (
      SELECT doc_id, generate_subscripts(ghs, 1) - 1 AS p, unnest(ghs) AS h
      FROM ghash),
    hot AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, g.p + d AS pos
      FROM grams g JOIN hot USING (h), unnest(range(0, 5)) AS u(d)),
    marked AS (
      SELECT tk.doc_id, tk.pos, tk.w, (c.pos IS NOT NULL) AS rm
      FROM toks tk LEFT JOIN covered c
        ON tk.doc_id = c.doc_id AND tk.pos = c.pos)
    SELECT doc_id,
           coalesce(array_to_string(list(w ORDER BY pos) FILTER (NOT rm), ' '),
                    '') AS text_clean,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (rm) AS BIGINT) AS tokens_removed
    FROM marked GROUP BY doc_id
    """,
)
def q102_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, apply step (operators/subdoc.
    strip_duplicated_spans — completes q97's detection with the cut,
    the full Lee-et-al recipe): tokens covered by corpus-repeated
    5-grams are removed and survivors re-joined in original order.
    One gram-count shuffle, a co-keyed semi-join, a (doc, pos) left
    join for the mark, and an order-independent struct-sort
    reassembly — no per-document window in the strip path."""
    from demy_spark.operators.subdoc import strip_duplicated_spans

    t = _t(spark, sf_dir)
    out = strip_duplicated_spans(t["documents"], "doc_id", "text", k=5, min_count=2)
    return out.select(
        "doc_id",
        "text_clean",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("tokens_removed").cast("long").alias("tokens_removed"),
    )


@register(
    "q103_source_overlap",
    f"""
    WITH gs AS (
      SELECT DISTINCT source AS g, {_md5_long_sql('s', 1)} AS sh
      FROM (SELECT source, unnest({_SHINGLES_SQL}) AS s FROM documents)),
    tot AS (SELECT g, count(*) AS n FROM gs GROUP BY 1),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb, count(*) AS shared
      FROM gs a JOIN gs b ON a.sh = b.sh AND a.g < b.g GROUP BY 1, 2)
    SELECT ga AS group_a, gb AS group_b,
           CAST(shared AS BIGINT) AS shared,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           round(shared / (ta.n + tb.n - shared), 6) + 0.0 AS jaccard
    FROM pairs JOIN tot ta ON pairs.ga = ta.g JOIN tot tb ON pairs.gb = tb.g
    """,
)
def q103_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap contamination matrix (operators/curation.
    source_overlap_matrix — LLM-pipeline extension; the aggregate view
    of q86's per-document decontamination): pairwise shared distinct
    word-trigram shingles and Jaccard between every pair of the 20
    sources — the corpus datasheet consulted before mixing. The corpus
    reduces to DISTINCT (source, shingle) rows before the co-keyed
    self-join, whose per-shingle fan-out is bounded by the number of
    sources; per-source totals join back broadcast."""
    from demy_spark.operators.curation import source_overlap_matrix

    t = _t(spark, sf_dir)
    out = source_overlap_matrix(t["documents"], "text", "source", n=3)
    return out.select(
        "group_a",
        "group_b",
        F.col("shared").cast("long").alias("shared"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("jaccard") + F.lit(0.0)).alias("jaccard"),
    )


def _merge_round_sql(i: int) -> str:
    """One phrase-merge round as CTE fragments (operators/phrases
    twin): pair counts over t{i-1}, argmax pair, parity-island
    non-overlap merge, re-compacted t{i}."""
    prev = f"t{i - 1}"
    return f"""
    paired{i} AS (
        SELECT *, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS wn
        FROM {prev}),
    best{i} AS (
        -- the all-NULL sentinel mirrors phrases.phrase_merges: a
        -- pair-exhausted round keeps best at one no-op row instead of
        -- annihilating the cross join
        SELECT * FROM (
            SELECT w AS w1, wn AS w2, count(*) AS cnt
            FROM paired{i} WHERE wn IS NOT NULL GROUP BY 1, 2
            UNION ALL SELECT NULL, NULL, NULL)
        ORDER BY cnt DESC NULLS LAST, w1, w2 LIMIT 1),
    cand{i} AS (
        SELECT c.doc_id, c.p, c.w, c.wn,
               (b.w1 IS NOT NULL AND c.wn IS NOT NULL
                AND c.w = b.w1 AND c.wn = b.w2) AS m
        FROM paired{i} c, best{i} b),
    isl{i} AS (
        SELECT *, CASE WHEN m THEN p - row_number()
                 OVER (PARTITION BY doc_id, m ORDER BY p) END AS isl
        FROM cand{i}),
    keepf{i} AS (
        SELECT *, m AND ((p - min(p) OVER (PARTITION BY doc_id, isl)) % 2 = 0)
                 AS keep
        FROM isl{i}),
    gone{i} AS (
        SELECT *, coalesce(lag(keep) OVER (PARTITION BY doc_id ORDER BY p),
                           false) AS gone
        FROM keepf{i}),
    emit{i} AS (
        SELECT doc_id, p,
               CASE WHEN keep THEN w || '@@' || wn ELSE w END AS w
        FROM gone{i} WHERE NOT gone),
    t{i} AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS p, w
        FROM emit{i}),
    after{i} AS (SELECT count(*) AS tokens_after FROM t{i}),"""


_Q104_SQL = (
    f"""
    WITH t0 AS (
      SELECT doc_id, generate_subscripts(tk, 1) - 1 AS p, unnest(tk) AS w
      FROM (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents)),"""
    + _merge_round_sql(1)
    + _merge_round_sql(2)
    + _merge_round_sql(3)
    + """
    m AS (
      SELECT 1 AS iteration, w1, w2, CAST(cnt AS BIGINT) AS pair_count,
             (SELECT CAST(tokens_after AS BIGINT) FROM after1) AS tokens_after
      FROM best1
      UNION ALL
      SELECT 2, w1, w2, CAST(cnt AS BIGINT),
             (SELECT CAST(tokens_after AS BIGINT) FROM after2) FROM best2
      UNION ALL
      SELECT 3, w1, w2, CAST(cnt AS BIGINT),
             (SELECT CAST(tokens_after AS BIGINT) FROM after3) FROM best3)
    SELECT CAST(iteration AS BIGINT) AS iteration, w1, w2, pair_count,
           tokens_after
    FROM m
    """
)


@register("q104_phrase_merges", _Q104_SQL)
def q104_phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative phrase-pair merging (operators/phrases.phrase_merges
    — word2phrase-style collocation mining, the preprocessing the
    reference's Word2Vec surface trains on, and the word-level
    skeleton of BPE tokenizer training): 3 greedy rounds of
    merge-the-most-frequent-adjacent-pair over the corpus. Rounds are
    inherently sequential, so each round's argmax is ONE collected row
    (dictionary-sized driver state — the tuning-thresholds contract)
    inlined as literals into the merge pass; non-overlap via
    parity-island running windows per document, one exchange per
    round. The oracle unrolls all 3 rounds as CTEs and reproduces
    pair counts, tie-breaks, merge placement and the re-compacted
    token stream bit-for-bit."""
    from demy_spark.operators.phrases import phrase_merges

    t = _t(spark, sf_dir)
    merges, _tokens = phrase_merges(
        t["documents"], "doc_id", "text", iterations=3
    )
    return merges.select(
        F.col("iteration").cast("long").alias("iteration"),
        "w1",
        "w2",
        F.col("pair_count").cast("long").alias("pair_count"),
        F.col("tokens_after").cast("long").alias("tokens_after"),
    )


@register(
    "q105_weighted_sample",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             CAST(floor(pow(((doc_id * 2654435761) % 4294967296)
                            / 4294967296.0,
                            1.0 / n_chars) * 1000000000) AS BIGINT)
               AS es_nano
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars, es_nano
    FROM scored
    ORDER BY es_nano DESC, doc_id
    LIMIT 80
    """,
)
def q105_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.
    weighted_sample — Efraimidis-Spirakis A-ES on the deterministic
    Knuth-hash unit draw; the reference samples with nondeterministic
    rand(), `tuning/RandomSplit.scala:30-33`): inclusion probability
    proportional to n_chars, selection a pure function of doc_id, so
    the oracle re-draws the identical 80 rows. Ranks on the
    nano-quantized INTEGER score (quantize=1e9): fractional-exponent
    pow is not bit-identical across libm implementations, and the
    selection boundary must not ride on a 1-ulp float (the SKILL.md
    quantize-before-compare rule). Compiles to TakeOrderedAndProject
    — distributed top-n, no global sort."""
    from demy_spark.operators.sampling import weighted_sample

    t = _t(spark, sf_dir)
    out = weighted_sample(
        t["documents"], "doc_id", "n_chars", 80, quantize=10**9
    )
    return out.select(
        "doc_id",
        "n_chars",
        F.col("_es_key_").cast("long").alias("es_nano"),
    )


@register(
    "q106_distinctive_terms",
    f"""
    WITH toks AS (
      SELECT source AS g, unnest({_TOKS_SQL}) AS w FROM documents),
    cgw AS (SELECT g, w, count(*) AS cgw FROM toks GROUP BY 1, 2),
    cw AS (SELECT w, sum(cgw) AS cw FROM cgw GROUP BY 1),
    ng AS (SELECT g, sum(cgw) AS ng FROM cgw GROUP BY 1),
    nt AS (SELECT sum(ng) AS n FROM ng),
    scored AS (
      SELECT cgw.g, cgw.w, cgw.cgw,
             CAST(floor(
               (ln((cgw.cgw + 0.01 * cw.cw)
                   / (ng.ng + 0.01 * nt.n - cgw.cgw - 0.01 * cw.cw))
                - ln(((cw.cw - cgw.cgw) + 0.01 * cw.cw)
                     / (nt.n - ng.ng + 0.01 * nt.n
                        - (cw.cw - cgw.cgw) - 0.01 * cw.cw)))
               / sqrt(1.0 / (cgw.cgw + 0.01 * cw.cw)
                      + 1.0 / ((cw.cw - cgw.cgw) + 0.01 * cw.cw))
               * 1000000.0) AS BIGINT) AS z_micro
      FROM cgw JOIN cw USING (w) JOIN ng USING (g), nt),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY g
                                   ORDER BY z_micro DESC, w) AS rk
      FROM scored)
    SELECT g AS source, w AS word, CAST(cgw AS BIGINT) AS n_word, z_micro
    FROM ranked WHERE rk <= 10
    """,
)
def q106_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary (operators/selection.
    distinctive_terms — log-odds ratio with the informed Dirichlet
    prior, Monroe et al. "Fightin' Words"; the corpus-datasheet
    complement of q103's overlap matrix): top-10 terms per source by
    z-scored log-odds vs the rest of the corpus. Ranking rides on
    micro-nat INTEGERS (the SKILL.md quantize rule — a rank boundary
    must not ride on 1-ulp libm ln/sqrt differences); the rank window
    runs on the corpus-REDUCED (group, word) count frame, never the
    token stream."""
    from demy_spark.operators.selection import distinctive_terms

    t = _t(spark, sf_dir)
    out = distinctive_terms(t["documents"], "text", "source", k=10, alpha=0.01)
    return out.select(
        "source",
        "word",
        F.col("n_word").cast("long").alias("n_word"),
        "z_micro",
    )


@register(
    "q107_snapshot_diff",
    f"""
    WITH oldd AS (
      -- fingerprints coalesced to md5('') for zero-token/NULL text:
      -- norm_fingerprint (concat_ws) never yields NULL, and a present
      -- doc must never be misread as 'added' (degenerate-fuzz)
      SELECT doc_id, md5(coalesce(array_to_string({_TOKS_SQL}, ' '), '')) AS fp
      FROM documents WHERE doc_id % 7 <> 0),
    newd AS (
      SELECT doc_id,
             md5(coalesce(array_to_string(
               list_append(coalesce({_TOKS_SQL}, []),
                           CASE WHEN doc_id % 5 = 0 THEN 'edited' END)
               , ' '), '')) AS fp
      FROM documents WHERE doc_id % 11 <> 0),
    diff AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM oldd o FULL JOIN newd n ON o.doc_id = n.doc_id)
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM diff GROUP BY status
    """,
)
def q107_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/curation.snapshot_diff — the
    dataset-versioning audit between crawls, and the row spine of
    incremental processing: feed added/changed to q101's index probe
    instead of re-running the corpus): two synthetic snapshots of
    documents (old drops every 7th id; new drops every 11th and edits
    every 5th by appending a token), fingerprint-compared through ONE
    co-keyed full-outer join — no text past the scan, nothing
    broadcast. The oracle rebuilds both snapshots and the
    status assignment; output is per-status count + id checksum."""
    from demy_spark.operators.curation import snapshot_diff

    t = _t(spark, sf_dir)
    docs = t["documents"]
    old = docs.where(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat_ws(" ", F.col("text"), F.lit("edited"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = snapshot_diff(old, new, "doc_id", "text")
    return out.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@register(
    "q108_record_linkage",
    """
    WITH probe AS (
      SELECT c_custkey + 1000000 AS probe_id, c_nationkey,
             CASE c_custkey % 3
               WHEN 0 THEN translate(c_name, '0', 'O')
               WHEN 1 THEN substring(c_name, 1, length(c_name) - 2)
               ELSE c_name END AS c_name,
             c_mktsegment
      FROM customer),
    combined AS (
      SELECT c_custkey AS rid, c_name AS name FROM customer
      UNION ALL
      SELECT probe_id AS rid, c_name AS name FROM probe),
    pos AS (
      SELECT rid, row_number() OVER (ORDER BY name, rid) - 1 AS p
      FROM combined),
    cand AS (
      SELECT CASE WHEN a.rid < 1000000 THEN a.rid ELSE b.rid END
                 AS c_custkey,
             CASE WHEN a.rid >= 1000000 THEN a.rid ELSE b.rid END
                 AS probe_id
      FROM pos a JOIN pos b ON b.p > a.p AND b.p <= a.p + 10
      WHERE (a.rid < 1000000) <> (b.rid < 1000000)),
    pairs AS (
      SELECT cand.probe_id, cand.c_custkey,
             CAST(floor((CASE WHEN greatest(length(c.c_name),
                                            length(p.c_name)) = 0 THEN 1.0
                         ELSE 1.0 - levenshtein(c.c_name, p.c_name)
                              / greatest(length(c.c_name), length(p.c_name))
                         END) * 0.7 * 1000000) AS BIGINT)
             + CAST(floor((CASE WHEN greatest(length(c.c_mktsegment),
                                              length(p.c_mktsegment)) = 0
                           THEN 1.0
                           ELSE 1.0 - levenshtein(c.c_mktsegment,
                                                  p.c_mktsegment)
                                / greatest(length(c.c_mktsegment),
                                           length(p.c_mktsegment))
                           END) * 0.3 * 1000000) AS BIGINT) AS score_micro
      FROM cand
      JOIN customer c ON cand.c_custkey = c.c_custkey
      JOIN probe p ON cand.probe_id = p.probe_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                 ORDER BY score_micro DESC, c_custkey) AS rk
      FROM pairs WHERE score_micro >= 500000)
    SELECT probe_id, c_custkey, score_micro FROM ranked WHERE rk = 1
    """,
)
def q108_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage on sorted-neighborhood blocking (operators/
    linkage.record_linkage + sorted_neighborhood_pairs — the
    scale-generalized form of the reference's address best-match,
    `geo/AddressLocalizator.scala:29-36`): customers linked against a
    deterministically corrupted clone of themselves (digit swap / tail
    truncation by id class). Candidates come from ONE sorted
    neighborhood over the union of both sides ranked by name (window
    10, cross-source pairs only) — pair volume is linear in the data
    (<= 2*window per row) instead of the quadratic equality-block
    trap (the old nation-key demo: block sizes grow with the corpus;
    measured ~8 min vs 2.5 s at 10x). Scoring is 0.7*name +
    0.3*segment normalized-Levenshtein, argmax per probe with >= 0.5
    threshold; every similarity is integer-Levenshtein arithmetic
    quantized to micro-units before ranking — no libm anywhere, so
    both engines rank identically. Probes whose corruption destroys
    the sort prefix (the digit-swap class) fall out of the window and
    return no match — the documented recall trade of SNM blocking.
    The oracle replays the same neighborhood with one global window
    (affordable there; the Spark side uses the two-phase
    order_positions rank)."""
    from demy_spark.operators.linkage import (
        record_linkage,
        sorted_neighborhood_pairs,
    )

    t = _t(spark, sf_dir)
    cust = t["customer"]
    probe = cust.select(
        (F.col("c_custkey") + 1000000).alias("probe_id"),
        "c_nationkey",
        F.when(F.col("c_custkey") % 3 == 0, F.translate("c_name", "0", "O"))
        .when(
            F.col("c_custkey") % 3 == 1,
            F.expr("substring(c_name, 1, length(c_name) - 2)"),
        )
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_mktsegment",
    )
    combined = cust.select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name")
    ).unionAll(
        probe.select(F.col("probe_id").alias("rid"), F.col("c_name").alias("name"))
    )
    snm = sorted_neighborhood_pairs(combined, "rid", "name", window=10)
    cand = snm.where(
        (F.col("id_a") < 1000000) != (F.col("id_b") < 1000000)
    ).select(
        F.when(F.col("id_a") < 1000000, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("c_custkey"),
        F.when(F.col("id_a") >= 1000000, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("probe_id"),
    )
    out = record_linkage(
        cust,
        probe,
        "c_custkey",
        "probe_id",
        None,
        [("c_name", 0.7), ("c_mktsegment", 0.3)],
        min_score=0.5,
        candidates=cand,
    )
    return out.select("probe_id", "c_custkey", "score_micro")


@register(
    "q109_sorted_neighborhood",
    """
    WITH pos AS (
      SELECT c_custkey AS id, c_name AS k,
             row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS p
      FROM customer),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.k AS ka, b.k AS kb
      FROM pos a JOIN pos b ON b.p > a.p AND b.p <= a.p + 5)
    SELECT id_a, id_b, CAST(levenshtein(ka, kb) AS BIGINT) AS lev
    FROM pairs WHERE levenshtein(ka, kb) <= 2
    """,
)
def q109_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (operators/linkage.
    sorted_neighborhood_pairs — the classic equality-free linkage
    blocking): customers ranked by name via the two-phase range trick
    (repartitionByRange + per-partition row_number + partition-offset
    cumsum over a #partitions-sized frame — never a single-partition
    data window), every pair within 5 positions generated through a
    position-bucket self-join (fan-out <= 2*window per row), then
    filtered to Levenshtein <= 2. The oracle computes the same total
    order with one global window — affordable there, a scale-killer
    here, which is exactly what the two-phase shape avoids."""
    from demy_spark.operators.linkage import sorted_neighborhood_pairs

    t = _t(spark, sf_dir)
    cust = t["customer"]
    pairs = sorted_neighborhood_pairs(cust, "c_custkey", "c_name", window=5)
    names = cust.select(F.col("c_custkey"), F.col("c_name"))
    return (
        pairs.join(
            names.select(
                F.col("c_custkey").alias("id_a"), F.col("c_name").alias("_ka_")
            ),
            "id_a",
        )
        .join(
            names.select(
                F.col("c_custkey").alias("id_b"), F.col("c_name").alias("_kb_")
            ),
            "id_b",
        )
        .where(F.levenshtein("_ka_", "_kb_") <= 2)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ka_", "_kb_").cast("long").alias("lev"),
        )
    )


@register(
    "q110_incremental_pipeline",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' edited'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 11 <> 0),
    old_fp AS (
      SELECT doc_id, md5(array_to_string({_TOKS_SQL}, ' ')) AS fp
      FROM documents WHERE doc_id % 7 <> 0),
    new_fp AS (
      SELECT doc_id, md5(array_to_string({_TOKS_SQL}, ' ')) AS fp
      FROM base),
    st AS (
      SELECT n.doc_id,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM new_fp n LEFT JOIN old_fp o ON n.doc_id = o.doc_id),
    docs AS (
      SELECT b.doc_id, {_SHINGLES_SQL} AS shl, st.status
      FROM base b JOIN st ON b.doc_id = st.doc_id
      WHERE len({_TOKS_SQL}) >= 3),
    h AS (
      SELECT doc_id,
             {_md5_long_sql('s', 1)} AS h1,
             {_md5_long_sql('s', 16, 8)} & 2147483647 AS h2
      FROM (SELECT doc_id, unnest(shl) AS s FROM docs)),
    slots AS (
      SELECT doc_id, i.i, min(h1 + (2 * i.i + 1) * h2) AS slot
      FROM h, (SELECT unnest(range(128)) AS i) i
      GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, i // 4 AS band, list(slot ORDER BY i) AS key
      FROM slots GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
      FROM bands a
      JOIN docs da ON a.doc_id = da.doc_id AND da.status = 'unchanged'
      JOIN bands b ON a.band = b.band AND a.key = b.key
      JOIN docs db ON b.doc_id = db.doc_id AND db.status IN ('added', 'changed')
      WHERE a.doc_id <> b.doc_id),
    jac AS (
      SELECT cand.batch_id, cand.index_id,
             round(CAST(len(list_intersect(da.shl, db.shl)) AS DOUBLE)
                   / len(list_distinct(list_concat(da.shl, db.shl))), 6)
                 AS jaccard
      FROM cand
      JOIN docs da ON cand.batch_id = da.doc_id
      JOIN docs db ON cand.index_id = db.doc_id)
    SELECT batch_id, index_id, jaccard + 0.0 AS jaccard
    FROM jac WHERE jaccard >= 0.5
    """,
)
def q110_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end INCREMENTAL curation (the delta twin of q93's batch
    pipeline, composing q107 + q101): snapshot_diff classifies the new
    crawl against the previous snapshot, ONLY the added/changed
    documents are signed and probed against the MinHash index of the
    unchanged corpus — the production shape where per-crawl cost is
    O(delta), never O(corpus). Output: near-duplicate (batch, index)
    pairs the gate would drop before training. The oracle replays
    diff, status routing, signatures, band join and exact-Jaccard
    verification in one statement."""
    from demy_spark.operators.curation import snapshot_diff
    from demy_spark.operators.dedup import minhash_index, minhash_probe

    t = _t(spark, sf_dir)
    docs = t["documents"]
    old = docs.where(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws(" ", F.col("text"), F.lit("edited")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # status routing: removed ids don't exist in base, so the diff
    # restricted to base is added/changed/unchanged exactly
    diff = snapshot_diff(old, base, "doc_id", "text")
    index_docs = base.join(
        diff.where(F.col("status") == "unchanged").select("doc_id"), "doc_id"
    )
    delta_docs = base.join(
        diff.where(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
    )
    bands_df, shingles_df = minhash_index(index_docs, "text", "doc_id")
    return minhash_probe(
        bands_df,
        shingles_df,
        delta_docs,
        "text",
        "doc_id",
        jaccard_threshold=0.5,
    )


@register(
    "q111_chunk_documents",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    st AS (
      SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS s
      FROM toks WHERE len(tk) > 0)
    SELECT doc_id,
           CAST(s // 24 AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS tok_start,
           CAST(least(32, len(tk) - s) AS BIGINT) AS n_tokens,
           array_to_string(tk[s + 1 : s + 32], ' ') AS chunk_text
    FROM st
    """,
)
def q111_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.
    chunk_documents — LLM-pipeline extension; the reference's text
    surface stops at sentence split, mllib text/Word.scala): every
    document split into 32-token windows starting every 24 tokens
    (RAG-style overlap; the tail chunk may be short, every token is
    covered). Pure per-row codegen — token array, sequence of starts,
    one posexplode, slice+join — no shuffle, no UDF; at 100 TB this
    is a narrow map over the corpus scan. The oracle replays starts,
    boundaries and chunk text verbatim."""
    from demy_spark.operators.chunking import chunk_documents

    t = _t(spark, sf_dir)
    return chunk_documents(
        t["documents"], "doc_id", "text", chunk_tokens=32, stride=24
    )


@register(
    "q112_tfidf_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, w, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents)
      GROUP BY 1, 2),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w, tf.tf,
             tf.tf * CAST(floor((ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0)
                                * 1000000) AS BIGINT) AS score_micro
      FROM tf JOIN dfreq USING (w), n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_micro DESC, w) AS rk
      FROM scored)
    SELECT doc_id, w AS term, CAST(tf AS BIGINT) AS tf, score_micro
    FROM ranked WHERE rk <= 5
    """, gate_doc_ids=True)
def q112_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (operators/selection.
    tfidf_top_terms — the per-document twin of q106's per-group
    log-odds view): smoothed idf = ln((N+1)/(df+1)) + 1, top-5 terms
    per document ranked on the INTEGER tf * floor(idf * 1e6) with
    lexicographic tie-break — no double decides a rank boundary. The
    corpus reduces to (doc, term, tf) in one map-side-combined
    shuffle; document frequencies reduce from THAT frame and join
    back co-keyed on the term; N is a 1-row cross-joined frame; the
    top-k is a WindowGroupLimit-prunable rank window."""
    from demy_spark.operators.selection import tfidf_top_terms

    t = _t(spark, sf_dir)
    out = tfidf_top_terms(_docw(t), "doc_id", "text", k=5)
    return out.select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf"), "score_micro"
    )


# the merge list q113 applies: the three most frequent adjacent pairs
# of the documents fixture — literal in BOTH engines, like a deployed
# tokenizer's frozen merge table
_Q113_MERGES = [("table", "hash"), ("part", "filter"), ("customer", "join")]


def _apply_merge_round_sql(i: int, w1: str, w2: str) -> str:
    """One apply-merge round as CTE fragments: q104's _merge_round_sql
    with the argmax replaced by the FROZEN literal pair — the oracle
    twin of operators/phrases.apply_merges' _merge_pass rounds."""
    prev = f"t{i - 1}"
    return f"""
    paired{i} AS (
        SELECT *, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS wn
        FROM {prev}),
    cand{i} AS (
        SELECT doc_id, p, w, wn,
               (wn IS NOT NULL AND w = '{w1}' AND wn = '{w2}') AS m
        FROM paired{i}),
    isl{i} AS (
        SELECT *, CASE WHEN m THEN p - row_number()
                 OVER (PARTITION BY doc_id, m ORDER BY p) END AS isl
        FROM cand{i}),
    keepf{i} AS (
        SELECT *, m AND ((p - min(p) OVER (PARTITION BY doc_id, isl)) % 2 = 0)
                 AS keep
        FROM isl{i}),
    gone{i} AS (
        SELECT *, coalesce(lag(keep) OVER (PARTITION BY doc_id ORDER BY p),
                           false) AS gone
        FROM keepf{i}),
    emit{i} AS (
        SELECT doc_id, p,
               CASE WHEN keep THEN w || '@@' || wn ELSE w END AS w
        FROM gone{i} WHERE NOT gone),
    t{i} AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS p, w
        FROM emit{i}),"""


_Q113_SQL = (
    f"""
    WITH t0 AS (
      SELECT doc_id, generate_subscripts(tk, 1) - 1 AS p, unnest(tk) AS w
      FROM (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents)),"""
    + "".join(
        _apply_merge_round_sql(i + 1, w1, w2)
        for i, (w1, w2) in enumerate(_Q113_MERGES)
    )
    + f"""
    final AS (SELECT * FROM t{len(_Q113_MERGES)})
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(w, ' ' ORDER BY p)) AS stream_md5
    FROM final GROUP BY doc_id
    """
)


@register("q113_bpe_apply", _Q113_SQL)
def q113_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-merge-table application (operators/phrases.apply_merges
    — the serving half of q104's word2phrase/BPE training): the three
    most frequent adjacent pairs of the fixture corpus, applied in
    rank order with the identical left-to-right non-overlap pass the
    trainer uses (shared _merge_pass — train and apply cannot drift).
    Output digests the ENTIRE rewritten token stream per document
    (count + md5 of the position-ordered join), so the oracle verifies
    every merge placement bit-for-bit, not just counts."""
    from demy_spark.operators.phrases import apply_merges

    t = _t(spark, sf_dir)
    out = apply_merges(t["documents"], "doc_id", "text", _Q113_MERGES)
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            )
        ).alias("stream_md5"),
    )


@register(
    "q114_knn_classify",
    """
    WITH c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    vnorm AS (
      SELECT vec_id, sqrt(list_aggregate(list_transform(v, x -> x * x),
                                         'sum')) AS nx
      FROM c),
    q AS (SELECT vec_id AS query_id, v AS qv
          FROM c WHERE vec_id % 25 = 0),
    qnorm AS (SELECT vec_id AS query_id, nx AS qn FROM vnorm
              WHERE vec_id % 25 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS nid, c.label AS lbl,
             CAST(floor((CASE WHEN n1.nx > 0 AND qn.qn > 0
                    THEN list_cosine_similarity(c.v, q.qv)
                    ELSE 0 END) * 1000000) AS BIGINT) AS sim
      FROM q
      JOIN qnorm qn ON qn.query_id = q.query_id
      JOIN c ON c.vec_id <> q.query_id
      JOIN vnorm n1 ON n1.vec_id = c.vec_id),
    topk AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, nid) AS rk
      FROM scored),
    votes AS (
      SELECT query_id, lbl, count(*) AS votes, max(sim) AS best_sim_micro
      FROM topk WHERE rk <= 5 GROUP BY 1, 2),
    won AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY votes DESC, best_sim_micro DESC, lbl) AS vr
      FROM votes)
    SELECT query_id, lbl AS pred_label, CAST(votes AS BIGINT) AS votes,
           best_sim_micro
    FROM won WHERE vr = 1
    """, gate_embeddings=True)
def q114_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation (operators/similarity.knn_classify —
    LLM-pipeline extension: majority label among the 5 nearest
    corpus embeddings by cosine, the zero-training way a curation
    pipeline spreads quality/domain tags from a labeled seed set).
    Every 25th vector plays query against the full corpus (the exact
    brute-force baseline — queries broadcast, one corpus scan, same
    contract as q23; IVF/PQ candidates compose for the scale path).
    Neighbor ranks AND the vote argmax ride on integer micro-cosines
    with full deterministic tie-breaks; the oracle replays ranking,
    voting and tie-breaks verbatim."""
    from demy_spark.operators.similarity import knn_classify

    t = _t(spark, sf_dir)
    emb = _embw(t).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    queries = emb.where(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    # the corpus side scores |queries| cosines per row — compute-bound:
    # spread an unsplittable scan across cores (no-op on production
    # multi-row-group input — guide §2.5; measured r13: 1.89 -> 0.81 on
    # the one-row-group sf0.1 fixture). The broadcast query side stays
    # on the raw scan (an exchange there would only delay the build).
    return knn_classify(
        spread_narrow_scan(emb), queries, "embedding", "vec_id", "label", k=5
    )


def _bpe_round_sql(i: int, pair_src: str | None = None) -> str:
    """One char-level BPE round as CTE fragments (operators/phrases.
    bpe_train twin of q104's _merge_round_sql): pair counts WEIGHTED by
    word frequency (join v), argmax with the all-NULL sentinel,
    parity-island non-overlap merge with the EMPTY joiner (symbols
    concatenate), re-compacted b{i}. With ``pair_src`` set (encode
    replay), the round's pair comes from that 1-row CTE instead of
    being recomputed — the frozen-merge-table application."""
    prev = f"b{i - 1}" if pair_src is None else f"e{i - 1}"
    pfx = "b" if pair_src is None else "e"
    best = pair_src or f"best{i}"
    best_cte = (
        ""
        if pair_src
        else f"""
    best{i} AS (
        SELECT * FROM (
            SELECT c.w AS w1, c.wn AS w2, sum(v.freq) AS cnt
            FROM {pfx}p{i} c JOIN v ON c.doc_id = v.word
            WHERE c.wn IS NOT NULL GROUP BY 1, 2
            UNION ALL SELECT NULL, NULL, NULL)
        ORDER BY cnt DESC NULLS LAST, w1, w2 LIMIT 1),"""
    )
    return f"""
    {pfx}p{i} AS (
        SELECT *, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS wn
        FROM {prev}),{best_cte}
    {pfx}c{i} AS (
        SELECT c.doc_id, c.p, c.w, c.wn,
               (b.w1 IS NOT NULL AND c.wn IS NOT NULL
                AND c.w = b.w1 AND c.wn = b.w2) AS m
        FROM {pfx}p{i} c, {best} b),
    {pfx}i{i} AS (
        SELECT *, CASE WHEN m THEN p - row_number()
                 OVER (PARTITION BY doc_id, m ORDER BY p) END AS isl
        FROM {pfx}c{i}),
    {pfx}k{i} AS (
        SELECT *, m AND ((p - min(p) OVER (PARTITION BY doc_id, isl)) % 2 = 0)
                 AS keep
        FROM {pfx}i{i}),
    {pfx}g{i} AS (
        SELECT *, coalesce(lag(keep) OVER (PARTITION BY doc_id ORDER BY p),
                           false) AS gone
        FROM {pfx}k{i}),
    {pfx}m{i} AS (
        SELECT doc_id, p, CASE WHEN keep THEN w || wn ELSE w END AS w
        FROM {pfx}g{i} WHERE NOT gone),
    {pfx}{i} AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS p, w
        FROM {pfx}m{i}),"""


# char stream of the vocabulary: each word (its own id) split to
# characters plus the end-of-word marker — phrases._char_rows' twin
# (string_split(s, '') is the proven q77 char-split convention)
def _bpe_b0_sql(vocab: str, pfx: str) -> str:
    return f"""
    {pfx}0 AS (
      SELECT word AS doc_id, generate_subscripts(cs, 1) - 1 AS p,
             unnest(cs) AS w
      FROM (SELECT word, list_append(string_split(word, ''), '</w>') AS cs
            FROM {vocab})),"""


_Q115_ROUNDS = 6

_Q115_SQL = (
    f"""
    WITH v AS (
      SELECT w AS word, count(*) AS freq
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY 1),"""
    + _bpe_b0_sql("v", "b")
    + "".join(_bpe_round_sql(i) for i in range(1, _Q115_ROUNDS + 1))
    + """
    m AS ("""
    + "\n      UNION ALL ".join(
        f"SELECT {i} AS rk, w1, w2, cnt FROM best{i}"
        for i in range(1, _Q115_ROUNDS + 1)
    )
    + """)
    SELECT CAST(rk AS BIGINT) AS rank, w1 AS sym1, w2 AS sym2,
           CAST(cnt AS BIGINT) AS pair_freq
    FROM m
    """
)


@register("q115_bpe_train", _Q115_SQL)
def q115_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level frequency-weighted BPE training (operators/phrases.
    bpe_train — Sennrich et al. 2016, the REAL tokenizer-training step;
    q104's word-level phrase merging is its skeleton, and the
    reference's Word2Vec surface — `mllib/src/main/scala/text/
    Word2VecApplier.scala` — consumes exactly such learned-subword
    streams): 6 rounds of merge-the-most-frequent-adjacent-symbol-pair
    over the corpus VOCABULARY (words split to chars + '</w>'), pair
    counts weighted by word frequency. The only corpus-sized work is
    the one (word, freq) reduction; every round then runs on
    vocabulary-sized frames through the same _merge_pass machinery as
    q104/q113. The oracle unrolls all 6 rounds — weighted counts,
    sentinel, tie-breaks, parity-island merge placement — bit-for-bit."""
    from demy_spark.operators.phrases import bpe_train

    t = _t(spark, sf_dir)
    merge_table, _vocab = bpe_train(t["documents"], "text", merges=_Q115_ROUNDS)
    return merge_table.select(
        F.col("rank").cast("long").alias("rank"),
        "sym1",
        "sym2",
        F.col("pair_freq").cast("long").alias("pair_freq"),
    )


_Q116_ROUNDS = 4

_Q116_SQL = (
    f"""
    WITH v AS (
      SELECT w AS word, count(*) AS freq
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents
            WHERE doc_id % 3 = 0) GROUP BY 1),"""
    + _bpe_b0_sql("v", "b")
    + "".join(_bpe_round_sql(i) for i in range(1, _Q116_ROUNDS + 1))
    + f"""
    wt AS (
      SELECT DISTINCT w AS word
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)),"""
    + _bpe_b0_sql("wt", "e")
    + "".join(
        _bpe_round_sql(i, pair_src=f"best{i}")
        for i in range(1, _Q116_ROUNDS + 1)
    )
    + f"""
    ws AS (
      SELECT doc_id AS word, string_agg(w, ' ' ORDER BY p) AS syms,
             count(*) AS nsym
      FROM e{_Q116_ROUNDS} GROUP BY 1),
    occ AS (
      SELECT doc_id, generate_subscripts(tk, 1) - 1 AS p, unnest(tk) AS word
      FROM (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents))
    SELECT occ.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ws.nsym) AS BIGINT) AS n_symbols,
           md5(string_agg(ws.syms, ' | ' ORDER BY occ.p)) AS stream_md5
    FROM occ JOIN ws USING (word)
    GROUP BY occ.doc_id
    """
)


@register("q116_bpe_encode", _Q116_SQL)
def q116_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with a TRAINED model (operators/phrases.
    bpe_encode — the serving half of q115, end-to-end): train 4 merges
    on the doc_id%3==0 slice, then encode the FULL corpus — in-vocab
    words hit the broadcast (word → symbols) table, out-of-vocabulary
    words replay the frozen merge list over their characters via the
    shared _replay_merges. The learned merge table is collected
    driver-side (tokenizer-sized by contract, the q38 frozen-weights
    convention). The oracle re-derives the merges from the slice
    (weighted unrolled rounds) and replays them uniformly over every
    corpus word TYPE — which equals the Spark hit+OOV union precisely
    BECAUSE vocab symbols are themselves the replay of the learned
    pairs, so the hash verifies the shared-machinery claim itself.
    Output digests the full per-document symbol stream (count, symbol
    total, md5 of the position-ordered join)."""
    from demy_spark.operators.phrases import bpe_encode, bpe_train

    t = _t(spark, sf_dir)
    docs = t["documents"]
    train = docs.where(F.col("doc_id") % 3 == 0)
    merge_table, vocab_syms = bpe_train(train, "text", merges=_Q116_ROUNDS)
    pairs = [
        (r["sym1"], r["sym2"])
        for r in merge_table.orderBy("rank").collect()
        if r["sym1"] is not None
    ]
    enc = bpe_encode(docs, "doc_id", "text", vocab_syms, pairs)
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size("symbols")).cast("long").alias("n_symbols"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                F.array_join("symbols", " ").alias("s"),
                            )
                        )
                    ),
                    lambda s: s["s"],
                ),
                " | ",
            )
        ).alias("stream_md5"),
    )


# the frozen keyword queries q117 ranks — literal in BOTH engines,
# like a deployed search/audit query set
_Q117_QUERIES = [
    (1, "hash join table"),
    (2, "window agg stream"),
    (3, "slow scan filter vector"),
    (4, "customer order line part"),
]

_Q117_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _Q117_QUERIES)

_Q117_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest({_TOKS_SQL}) AS w FROM documents),
    p AS (SELECT id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    pd AS (SELECT *, sum(tf) OVER (PARTITION BY id) AS dl FROM p),
    s AS (SELECT count(DISTINCT id) AS n, sum(tf) AS tot FROM p),
    q AS (SELECT * FROM (VALUES {_Q117_VALUES}) AS t(qid, qtext)),
    qt AS (
      SELECT qid,
             unnest(list_distinct(list_filter(
               string_split(trim(lower(qtext)), ' '), x -> x <> ''))) AS w
      FROM q),
    mt AS (
      SELECT pd.* FROM pd JOIN (SELECT DISTINCT w FROM qt) tw USING (w)),
    dfq AS (SELECT w, count(*) AS df FROM mt GROUP BY 1),
    sc AS (
      SELECT qt.qid, mt.id,
             CAST(floor(
               (ln((s.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                * ((mt.tf * (1.2 + 1.0))
                   / (mt.tf + 1.2 * (1.0 - 0.75
                      + 0.75 * mt.dl / (s.tot * 1.0 / s.n)))))
               * 1000000.0) AS BIGINT) AS tm
      FROM mt JOIN dfq USING (w) JOIN qt USING (w), s),
    agg AS (SELECT qid, id, sum(tm) AS score_micro FROM sc GROUP BY 1, 2),
    rnk AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY score_micro DESC, id) AS rk
      FROM agg)
    SELECT CAST(qid AS BIGINT) AS query_id, id AS doc_id,
           CAST(score_micro AS BIGINT) AS score_micro, CAST(rk AS BIGINT) AS rk
    FROM rnk WHERE rk <= 10
    """


@register("q117_bm25_search", _Q117_SQL)
def q117_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/retrieval.bm25_search — the
    ad-hoc-query complement of the fuzzy lookup JOIN's postings index;
    no reference analog, an extension like chunking — the lookup
    reference is index/implicits.scala; the curation pipeline's "find
    the documents about X" audit primitive):
    four frozen keyword queries ranked over the documents corpus,
    Lucene-style non-negative idf, per-term contributions floored to
    integer micro-units BEFORE the per-(query, doc) sum (rank
    boundaries never ride a 1-ulp float), ties to ascending doc id.
    Scale shape: postings reduce the token stream once; df is computed
    only for query terms (never the full vocabulary) and joins back
    broadcast; the top-k is a WindowGroupLimit-prunable rank window."""
    from demy_spark.operators.retrieval import bm25_search

    t = _t(spark, sf_dir)
    qdf = local_frame(spark, _Q117_QUERIES, "query_id long, qtext string")
    out = bm25_search(
        t["documents"], "doc_id", "text", qdf, "query_id", "qtext", k=10
    )
    return out.select(
        "query_id",
        "doc_id",
        "score_micro",
        F.col("rk").cast("long").alias("rk"),
    )


@register(
    "q118_orc_roundtrip",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           md5(string_agg(md5(text), '' ORDER BY doc_id, md5(text)))
             AS content_md5
    FROM documents GROUP BY source
    """, gate_doc_ids=True)
def q118_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan roundtrip (SURVEY §2.1 source/sink widening —
    the reference reads/writes columnar snapshots through one storage
    interface, `core/src/main/scala/Storage/Storage.scala`; Spark's
    native ORC is the second columnar format a lakehouse deployment
    needs beside parquet): documents is written to ORC (zlib,
    overwrite) and read back, and the QUERY digests what came back —
    per-source counts, id/char checksums and an order-insensitive
    md5-of-md5s over the full text payload. The oracle computes the
    same digest from the ORIGINAL parquet, so the gate proves the
    sink/scan pair preserves every row and byte exactly. The write
    lands in the per-sf _layout_scratch location (md5 of the FULL
    sf_dir — two corpora sharing a directory basename never collide);
    predicate/column pruning on the ORC scan is exercised in
    tests/test_io_sources.py."""
    t = _t(spark, sf_dir)
    path = os.path.join(_layout_scratch(sf_dir, "orc"), "documents")
    _docw(t).write.format("orc").option("compression", "zlib").mode(
        "overwrite"
    ).save(path)
    back = spark.read.format("orc").load(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.md5("text").alias("h")))
                    ),
                    lambda s: s["h"],
                ),
                "",
            )
        ).alias("content_md5"),
    )


@register(
    "q119_group_median",
    """
    WITH c AS (
      SELECT o_orderpriority AS priority, year(o_orderdate) AS yr,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY priority, yr
                 ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY priority, yr) AS cnt
      FROM c)
    SELECT priority, CAST(yr AS BIGINT) AS yr,
           CAST(max(cnt) AS BIGINT) AS n,
           sum(CASE WHEN rn IN ((cnt + 1) // 2, cnt // 2 + 1)
                    THEN cents ELSE 0 END)
             / ((CASE WHEN max(cnt) % 2 = 0 THEN 2 ELSE 1 END) * 100.0)
             AS median_price,
           sum(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT)
                    THEN cents ELSE 0 END) / 100.0 AS p90_price
    FROM r GROUP BY priority, yr
    """,
)
def q119_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median and p90 (relational-surface completion —
    the reference computes exact grouped stats, `feature/GroupBy.scala:
    10-117`; Spark's percentile_approx is nondeterministic across
    partition orders, so analytics that must reproduce — billing
    reports, SLA percentiles — need the exact rank-based form): order
    totalprice per (priority, year), median = mean of the two middle
    INTEGER-cent values (exact .5 at worst — no float accumulation),
    p90 = the value at rank ceil(0.9 n), ties broken by orderkey so
    both engines pick the identical row. One shuffle: the rank and
    count windows share the (priority, yr) partitioning, and the final
    group-by reuses it."""
    t = _t(spark, sf_dir)
    c = t["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    wg = Window.partitionBy("priority", "yr")
    r = c.withColumns(
        {
            "rn": F.row_number().over(wg.orderBy("cents", "o_orderkey")),
            "cnt": F.count(F.lit(1)).over(wg),
        }
    )
    lo = (F.col("cnt") + 1) / 2
    hi = F.col("cnt") / 2 + 1
    mid = F.col("rn").isin(F.floor(lo).cast("long"), F.floor(hi).cast("long"))
    at_p90 = F.col("rn") == F.ceil(F.col("cnt") * 0.9).cast("long")
    return r.groupBy("priority", "yr").agg(
        F.max("cnt").cast("long").alias("n"),
        (
            F.sum(F.when(mid, F.col("cents")).otherwise(0))
            / (F.when(F.max("cnt") % 2 == 0, 2).otherwise(1) * 100.0)
        ).alias("median_price"),
        (F.sum(F.when(at_p90, F.col("cents")).otherwise(0)) / 100.0).alias(
            "p90_price"
        ),
    )


@register(
    "q120_events_sliding",
    """
    WITH w AS (
      SELECT unnest([CAST(date_trunc('hour', ts) AS TIMESTAMP),
                     CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR
                          AS TIMESTAMP)]) AS win_start,
             event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      -- NULL-ts events belong to no time bucket (Spark's window()
      -- drops them; the explicit filter mirrors that contract)
      FROM events WHERE ts IS NOT NULL)
    SELECT win_start, event_type, count(*) AS n,
           sum(cents) / 100.0 AS total_value
    FROM w GROUP BY 1, 2
    """,
)
def q120_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2 h windows sliding 1 h — the
    overlapping-window semantics Structured Streaming shares with this
    batch twin; completes q12's tumbling hourly, reference analog the
    hand-rolled hourly flush `twitter/Execute.scala:58-98`): every
    event lands in exactly two windows; counts and integer-cent sums
    per (window start, event type). The oracle replicates each event
    onto its two epoch-aligned window starts explicitly, proving
    Spark's `window(ts, '2 hours', '1 hour')` assignment — one
    map-side-combined shuffle, no window function, no explode in the
    Spark plan (the built-in TimeWindow expression generates both
    assignments JVM-side)."""
    t = _t(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return (
        t["events"]
        # explicit twin of the oracle's ts IS NOT NULL: an event with
        # no timestamp belongs to no window (Spark's TimeWindow drops
        # it silently; state the contract rather than rely on it)
        .where(F.col("ts").isNotNull())
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents) / 100.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "q121_incremental_rollup",
    """
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      -- NULL-ts events belong to no day bucket (and would vanish
      -- into NEITHER base nor delta of the engine's split)
      FROM events WHERE ts IS NOT NULL)
    SELECT day, event_type, count(*) AS n,
           sum(cents) / 100.0 AS total_value,
           min(cents) / 100.0 AS min_value,
           max(cents) / 100.0 AS max_value,
           ((2 * sum(cents) + count(*)) // (2 * count(*))) / 100.0 AS avg_value
    FROM c GROUP BY 1, 2
    """,
)
def q121_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/temporal.
    aggregate_partials + merge_partials — the continuous-aggregate
    twin of q101/q110's incremental dedup; reference analog the
    hourly capture flush `twitter/Execute.scala:58-98`, which appends
    but never merges): events through day 20 are reduced to mergeable
    integer-cent partials (count, sum, min, max), WRITTEN to the
    per-sf scratch store and read back — persisted state, as a real
    continuous aggregate would hold it — then the remaining days'
    delta partials merge in via ONE co-keyed shuffle of rollup-sized
    frames. The oracle aggregates the WHOLE corpus from scratch: the
    gate proves merge(agg(base), agg(delta)) == agg(all) exactly —
    integer partials make that an identity, not an approximation.
    History is never re-scanned; each new day costs O(delta)."""
    from demy_spark.operators.temporal import aggregate_partials, merge_partials

    t = _t(spark, sf_dir)
    # NULL-ts events belong to no day bucket — and the base/delta
    # dayofmonth split would otherwise drop them into NEITHER side
    # silently (r8 fixture audit); state the contract explicitly
    ev = t["events"].where(F.col("ts").isNotNull()).select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    spec = dict(
        sums={"cents_sum": F.sum("cents")},
        mins={"min_cents": F.min("cents")},
        maxs={"max_cents": F.max("cents")},
    )
    base = aggregate_partials(
        ev.where(F.dayofmonth("day") <= 20), ["day", "event_type"], **spec
    )
    store = os.path.join(_layout_scratch(sf_dir, "rollup"), "events_daily")
    base.write.mode("overwrite").parquet(store)
    stored = spark.read.parquet(store)
    delta = aggregate_partials(
        ev.where(F.dayofmonth("day") > 20), ["day", "event_type"], **spec
    )
    merged = merge_partials(
        stored,
        delta,
        ["day", "event_type"],
        sum_cols=["cents_sum"],
        min_cols=["min_cents"],
        max_cols=["max_cents"],
    )
    return merged.select(
        "day",
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("cents_sum") / 100.0).alias("total_value"),
        (F.col("min_cents") / 100.0).alias("min_value"),
        (F.col("max_cents") / 100.0).alias("max_value"),
        # avg-to-the-cent derived ENTIRELY in integer arithmetic —
        # half-up of the rational cents_sum/n is (2p+q) div (2q); a
        # double quotient under round() can disagree across engines
        # near a .xx5 boundary (the repo's quantize-before-compare
        # convention applies to derived ratios too)
        (
            F.expr("(2 * cents_sum + n) div (2 * n)") / 100.0
        ).alias("avg_value"),
    )


@register(
    "q122_fuzzy_typed_filter",
    """
    WITH dtoks AS (
        SELECT doc_id, lang,
               list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dict AS (
        SELECT array_to_string(toks[1:3], ' ') AS phrase, min(doc_id) AS entity_id,
               min(lang) AS dict_lang
        FROM dtoks WHERE doc_id % 97 = 0 AND len(toks) >= 3
        GROUP BY 1
    ),
    postings AS (
        SELECT phrase, entity_id, dict_lang, tok, count(*) AS tf
        FROM (SELECT phrase, entity_id, dict_lang,
                     unnest(string_split(phrase, ' ')) AS tok FROM dict)
        GROUP BY 1, 2, 3, 4
    ),
    dls AS (SELECT phrase, len(string_split(phrase, ' ')) AS dl FROM dict),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
    dfs AS (SELECT tok, count(DISTINCT phrase) AS df FROM postings GROUP BY 1),
    qtoks AS (
        SELECT doc_id, want_lang, tok, count(*) AS qn
        FROM (SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS want_lang,
                     unnest(toks) AS tok
              FROM dtoks WHERE doc_id % 10 = 0)
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT q.doc_id, q.want_lang, p.phrase, p.entity_id, p.dict_lang,
               sum(q.qn * 4.0
                   * ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2)
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))) AS score
        FROM qtoks q
        JOIN postings p ON q.tok = p.tok
                       AND (q.want_lang IS NULL OR q.want_lang = p.dict_lang)
        JOIN dfs f ON p.tok = f.tok
        JOIN dls l ON p.phrase = l.phrase
        CROSS JOIN stats s
        GROUP BY 1, 2, 3, 4, 5
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY round(score, 6) DESC, entity_id) AS rk
        FROM scored WHERE score >= 1.0
    )
    SELECT doc_id, want_lang, phrase, entity_id, dict_lang,
           round(CAST(CAST(score AS REAL) AS DOUBLE), 2) + 0.0 AS score
    FROM ranked WHERE rk = 1
    """,
)
def q122_fuzzy_typed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-left-row typed point filters on the flagship fuzzy lookup
    (reference: index/IndexStrategy.scala:96-107 ANDs exact typed-field
    constraints from the per-probe filter Row into the Lucene query;
    fields are point-indexed at write time,
    SparkLuceneWriterInfo.scala:20-42). q51's standard-strategy shape
    plus a language constraint: each probe document requires the
    dictionary entry's lang to equal its own — except every third
    probe, whose NULL filter value means unconstrained
    (filter.isNullAt semantics). The oracle replays the full
    BM25-style score with the constraint ANDed into the candidate
    join — value-level parity on scores AND on which candidates were
    admissible."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    t = _t(spark, sf_dir)
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        t["documents"]
        .where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 3))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
            F.col("lang"),
        )
        .groupBy("phrase")
        .agg(
            F.min("entity_id").alias("entity_id"),
            F.min("lang").alias("dict_lang"),
        )
    )
    probes = (
        t["documents"]
        .where(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("lang"))
            .alias("want_lang"),
        )
    )
    out = fuzzy_lookup(
        probes,
        dictionary,
        "text",
        "phrase",
        max_lev_distance=0,
        min_score=1.0,
        top_k=1,
        tie_break_cols=("entity_id",),
        filter_cols=[("want_lang", "dict_lang")],
    )
    return out.where(F.col("phrase").isNotNull()).select(
        "doc_id",
        "want_lang",
        "phrase",
        "entity_id",
        "dict_lang",
        (F.round(F.col("_score_").cast("double"), 2) + F.lit(0.0)).alias("score"),
    )


_Q123_SQL = (
    """
    WITH dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    cent0 AS (SELECT vec_id % 8 AS c, d, avg(x) AS m FROM dims GROUP BY 1, 2),"""
    + _kmeans_round_sql(1, "cent0")
    + _kmeans_round_sql(2, "cent1")
    + _kmeans_round_sql(3, "cent2")
    + _kmeans_round_sql(4, "cent3")
    + """
    probe AS (
        SELECT query_id, c FROM (
            SELECT d4.vec_id AS query_id, d4.c,
                   row_number() OVER (PARTITION BY d4.vec_id
                       ORDER BY d4.dot / nullif(v.nx * cn.nc, 0) DESC, d4.c ASC
                   ) AS rk
            FROM dot4 d4
            JOIN vnorm v ON d4.vec_id = v.vec_id
            JOIN cnorm4 cn ON d4.c = cn.c
            WHERE d4.vec_id % 25 = 0
        ) WHERE rk <= 2),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign4 a ON a.c = p.c AND a.vec_id <> p.query_id),
    sims AS (
        SELECT cand.query_id, cand.neighbor_id,
               CASE WHEN nq.nx > 0 AND nb.nx > 0
                    THEN list_cosine_similarity(qa.embedding::DOUBLE[],
                                                qb.embedding::DOUBLE[])
                    ELSE 0 END AS sim
        FROM cand
        JOIN embeddings qa ON cand.query_id = qa.vec_id
        JOIN embeddings qb ON cand.neighbor_id = qb.vec_id
        JOIN vnorm nq ON cand.query_id = nq.vec_id
        JOIN vnorm nb ON cand.neighbor_id = nb.vec_id),
    kcand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS rk
            FROM sims) WHERE rk <= 5),
    cvec AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    votesrc AS (
        SELECT k.query_id, cb.label AS lbl,
               CAST(floor((CASE WHEN nb.nx > 0 AND nq.nx > 0
                      THEN list_cosine_similarity(cb.v, qa.v)
                      ELSE 0 END) * 1000000) AS BIGINT) AS msim
        FROM kcand k
        JOIN cvec cb ON cb.vec_id = k.neighbor_id
        JOIN cvec qa ON qa.vec_id = k.query_id
        JOIN vnorm nb ON nb.vec_id = k.neighbor_id
        JOIN vnorm nq ON nq.vec_id = k.query_id),
    votes AS (
        SELECT query_id, lbl, count(*) AS votes, max(msim) AS best_sim_micro
        FROM votesrc GROUP BY 1, 2),
    won AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, best_sim_micro DESC, lbl) AS vr
        FROM votes)
    SELECT query_id, lbl AS pred_label, CAST(votes AS BIGINT) AS votes,
           best_sim_micro
    FROM won WHERE vr = 1
    """
)


@register("q123_knn_ivf", _Q123_SQL, gate_embeddings=True)
def q123_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation routed through IVF candidates — the
    100 TB composition the brute-force q114 documents: the coarse
    quantizer bounds each query's candidate set to its 2 probed lists
    (~nprobe/n_lists of the corpus), ``ivf_cosine_topk`` reranks
    exactly within them, and ``knn_classify(candidates=...)`` votes
    over ONLY those pairs — the corpus is reached by an equi-join on
    id, never a queries × corpus product. The oracle replays the whole
    chain end to end: quantizer training (4 unrolled Lloyd CTEs, as
    q53), probe, in-list top-5, then micro-integer voting with q114's
    exact tie-breaks."""
    from demy_spark.operators.similarity import ivf_cosine_topk, knn_classify

    t = _t(spark, sf_dir)
    emb = _embw(t).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    queries = emb.where(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    cand = ivf_cosine_topk(
        emb,
        queries,
        "embedding",
        "vec_id",
        k=5,
        n_lists=8,
        nprobe=2,
        train_iters=3,
    ).select("query_id", "neighbor_id")
    return knn_classify(
        emb, queries, "embedding", "vec_id", "label", k=5, candidates=cand
    )


_Q124_GRAM_SQL = """
    {alias} AS (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest([array_to_string(t[i:i+{nm1}], ' ')
                             FOR i IN range(1, len(t) - {nm2})]) AS g
              FROM base)
        GROUP BY doc_id, g
    )"""


@register(
    "q124_repetition_profile",
    f"""
    WITH s AS (
        SELECT doc_id, {_TOKS_WS_SQL} AS t FROM documents),
    base AS (
        SELECT doc_id, t, length(array_to_string(t, ' ')) AS norm_len
        FROM s),
    {','.join(
        _Q124_GRAM_SQL.format(alias=f'c{n}', nm1=n - 1, nm2=n - 2)
        for n in (2, 3, 4)
    )},
    {','.join(
        f'''
    top{n} AS (
        SELECT doc_id,
               least(1.0, c * length(g) / CAST(b.norm_len AS DOUBLE)) AS frac
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY c DESC, g ASC) AS rk
              FROM c{n}) j
        JOIN base b USING (doc_id)
        WHERE rk = 1 AND b.norm_len > 0
    )'''
        for n in (2, 3, 4)
    )},
    {','.join(
        f'''
    dup{n} AS (
        SELECT doc_id,
               least(1.0,
                     sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END)
                     / CAST(any_value(b.norm_len) AS DOUBLE)) AS frac
        FROM c{n} j JOIN base b USING (doc_id)
        WHERE b.norm_len > 0
        GROUP BY doc_id
    )'''
        for n in (2, 3)
    )}
    SELECT b.doc_id,
           round(coalesce(top2.frac, 0.0), 6) + 0.0 AS top2_char_frac,
           round(coalesce(top3.frac, 0.0), 6) + 0.0 AS top3_char_frac,
           round(coalesce(top4.frac, 0.0), 6) + 0.0 AS top4_char_frac,
           round(coalesce(dup2.frac, 0.0), 6) + 0.0 AS dup2_char_frac,
           round(coalesce(dup3.frac, 0.0), 6) + 0.0 AS dup3_char_frac
    FROM base b
    LEFT JOIN top2 USING (doc_id)
    LEFT JOIN top3 USING (doc_id)
    LEFT JOIN top4 USING (doc_id)
    LEFT JOIN dup2 USING (doc_id)
    LEFT JOIN dup3 USING (doc_id)
    """, gate_doc_ids=True)
def q124_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals of the published
    corpus-quality rule sets (the family ``gopher_rules``'s dup2
    occurrence fraction belongs to): top-n-gram character fractions
    (n=2,3,4; the most frequent n-gram's coverage, ties to the
    smallest gram, capped at 1.0) and duplicated-n-gram character
    fractions (all occurrences of repeated n-grams; the query uses
    n=2,3 where the fixture distributions are non-degenerate — the
    operator's defaults keep the published n=5,10). Everything is a
    pure per-row expression over ONE pass of the sorted gram array
    (``textstats._run_stats`` run-length fold, O(G log G) per doc) —
    no shuffle, no UDF, scales to million-token documents. No
    reference analog (extension, like chunking); the oracle replays
    every fraction relationally (group-by gram + window argmax)."""
    from demy_spark.functions import textstats

    t = _t(spark, sf_dir)

    def r6(col):
        return F.round(col, 6) + F.lit(0.0)

    # the profile struct computes each distinct n's run statistic ONCE
    # for both its top and dup fields; explode(array(...)) is a
    # Generate barrier so CollapseProject cannot inline the struct
    # back into the five field extractions below (which would undo the
    # sharing — HOF subtrees are excluded from subexpression
    # elimination)
    prof = textstats.repetition_profile(
        F.col("text"), top_ns=(2, 3, 4), dup_ns=(2, 3)
    )
    # per-row O(G log G) gram fold: spread an unsplittable scan across
    # cores (no-op on production multi-row-group input — guide §2.5;
    # measured r13: 3.28 -> 1.80 on the one-row-group sf0.1 fixture)
    return (
        spread_narrow_scan(_docw(t))
        .select("doc_id", F.explode(F.array(prof)).alias("p"))
        .select(
            "doc_id",
            r6(F.col("p.top2_char_frac")).alias("top2_char_frac"),
            r6(F.col("p.top3_char_frac")).alias("top3_char_frac"),
            r6(F.col("p.top4_char_frac")).alias("top4_char_frac"),
            r6(F.col("p.dup2_char_frac")).alias("dup2_char_frac"),
            r6(F.col("p.dup3_char_frac")).alias("dup3_char_frac"),
        )
    )


@register(
    "q125_unicode_hygiene",
    r"""
    WITH built AS (
      SELECT doc_id,
             replace(replace(replace(text,
               'e', 'e' || chr(769)),
               'a', chr(7) || 'a'),
               't', chr(4370) || chr(4449) || chr(4523)) AS txt
      FROM documents),
    cleaned AS (
      SELECT doc_id,
             regexp_replace(
               txt, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'
             ) AS ctxt
      FROM built)
    SELECT doc_id,
           CAST(length(ctxt) AS BIGINT) AS pre_len,
           CAST(length(nfc_normalize(ctxt)) AS BIGINT) AS post_len,
           nfc_normalize(ctxt) AS norm_text
    FROM cleaned
    """,
)
def q125_unicode_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene pass (functions/text.strip_control_chars +
    unicode_normalize): control-byte removal then NFC canonical
    composition — the standard first step before byte-level dedup /
    hashing on crawled corpora, here over text with deterministically
    injected damage so the oracle is non-degenerate on the all-ASCII
    fixture (every 'e' becomes e+U+0301, every 'a' gains a BEL byte,
    every 't' becomes a decomposed Hangul jamo triple that NFC folds
    to one syllable). Both are narrow per-row maps (regex chain is
    codegen; normalization an Arrow-batched pandas UDF — UAX #15 has
    no Spark built-in) — no shuffle at any scale. No reference analog
    (extension, like chunking); cross-engine NFC parity with DuckDB's
    nfc_normalize is additionally pinned by a hostile-case unit test.
    Codepoint lengths before/after expose the composition deltas; the
    normalized text itself is hash-compared."""
    from demy_spark.functions.text import (
        strip_control_chars,
        unicode_normalize,
    )

    t = _t(spark, sf_dir)
    txt = F.col("text")
    for search, repl in (
        ("e", "e\u0301"),  # combining acute: NFC folds it in
        ("a", "\x07a"),
        ("t", "\u1112\u1161\u11ab"),  # jamo triple: NFC -> 1 syllable
    ):
        txt = F.replace(txt, F.lit(search), F.lit(repl))
    cleaned = strip_control_chars(txt)
    norm = unicode_normalize(cleaned)
    return t["documents"].select(
        "doc_id",
        F.length(cleaned).cast("long").alias("pre_len"),
        F.length(norm).cast("long").alias("post_len"),
        norm.alias("norm_text"),
    )


@register(
    "q126_html_strip",
    r"""
    WITH built AS (
      SELECT doc_id,
             '<html><!-- d' || CAST(doc_id AS VARCHAR)
             || ' --><style>p {margin: 0}</style><body class="c'
             || CAST(doc_id % 7 AS VARCHAR) || '"><h1>Doc &#39;'
             || CAST(doc_id AS VARCHAR) || '&#39;</h1><p>' || text
             || ' &amp; more &lt;3</p><script>var i = '
             || CAST(doc_id AS VARCHAR) || ';</script></body></html>'
             AS html
      FROM documents)
    SELECT doc_id,
           replace(replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '(?s)</?[a-zA-Z!][^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
             '&amp;', '&') AS stripped
    FROM built
    """,
)
def q126_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal (functions/text.strip_html): script/style blocks
    dropped wholesale, then comments, tags, and common entities — the
    crawl-to-text step of every web-corpus pipeline, as a pure
    regexp/replace chain (codegen, narrow per-row map at any scale; no
    backreferences so Java regex and RE2 strip identical spans). The
    fixture synthesizes the markup deterministically from doc ids so
    both engines build and strip identical strings. No reference
    analog (extension, like chunking)."""
    from demy_spark.functions.text import strip_html

    t = _t(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><!-- d"), d,
        F.lit(" --><style>p {margin: 0}</style><body class=\"c"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("\"><h1>Doc &#39;"), d,
        F.lit("&#39;</h1><p>"), F.col("text"),
        F.lit(" &amp; more &lt;3</p><script>var i = "), d,
        F.lit(";</script></body></html>"),
    )
    return t["documents"].select(
        "doc_id", strip_html(html).alias("stripped")
    )


@register(
    "q127_winnow_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    g AS (
      SELECT doc_id,
             [{_md5_long_sql("array_to_string(t[i:i+3], ' ')", 1)}
              FOR i IN range(1, len(t) - 2)] AS hs
      FROM s),
    f AS (
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN []::BIGINT[]
                  WHEN len(hs) < 4 THEN [list_min(hs)]
                  ELSE list_distinct(
                    [list_min(hs[i:i+3]) FOR i IN range(1, len(hs) - 2)])
             END AS fps
      FROM g),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM f)
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           count(*) AS shared_fingerprints
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def q127_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting + passage-copy screen
    (operators/curation.winnow_fingerprints / winnow_pairs): ordered
    word 4-gram md5-slice hashes winnowed to per-window (w=4) minima —
    the MOSS selection, guaranteeing any shared >=7-token run yields a
    shared fingerprint at ~2/(w+1) density — then near-dup candidate
    pairs by a co-keyed self-join on the fingerprint value (explode +
    equi-join + pair count, never all-pairs). Complements minhash's
    whole-doc Jaccard screen with a copied-PASSAGE screen. The oracle
    replays gram hashing, winnowing and the pair join relationally.
    No reference analog (extension, like chunking)."""
    from demy_spark.operators.curation import winnow_pairs

    t = _t(spark, sf_dir)
    return winnow_pairs(
        t["documents"], "doc_id", "text", k=4, w=4, min_shared=2
    ).select(
        F.col("left_id").cast("long").alias("left_id"),
        F.col("right_id").cast("long").alias("right_id"),
        "shared_fingerprints",
    )


@register(
    "q128_json_props",
    """
    SELECT event_id, event_type,
           -- TRY_CAST: from_json yields NULL on a non-numeric field
           -- where a plain CAST would crash the replay (degenerate-fuzz)
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
             AS k_bucket
    FROM events
    WHERE event_id % 17 = 0
    """,
)
def q128_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured field extraction from the JSON ``props`` column
    (reference analog: the twitter module deserializes JSON payloads
    into typed rows, twitter/src/main/scala/Execute.scala — here it is
    native ``from_json`` with an explicit schema, the Spark-first path:
    typed, codegen, null on malformed input instead of a crash, and
    the parse happens once per row however many fields are read).
    Extraction is a narrow per-row map; at scale the typed column then
    prunes/pushes down like any other."""
    t = _t(spark, sf_dir)
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return (
        t["events"]
        .where(F.col("event_id") % 17 == 0)
        .select(
            "event_id",
            "event_type",
            parsed["k"].alias("k"),
            (parsed["k"] % 10).alias("k_bucket"),
        )
    )


@register(
    "q129_url_parse",
    r"""
    WITH built AS (
      SELECT doc_id, lang,
             'https://www.' || source || '.example.com/docs/'
             || CAST(doc_id AS VARCHAR) || '/view?lang=' || lang
             || '&ref=feed#top' AS url
      FROM documents)
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(regexp_extract(url, '^[a-z]+://([^/]+)', 1),
                          '([^.]+\.[^.]+)$', 1) AS reg_domain
    FROM built
    """,
)
def q129_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for domain-level curation (host / path /
    query-param / registered-domain), via Spark's native ``parse_url``
    (Java URI semantics, codegen) — the primitive behind per-domain
    corpus stats, domain blocklists and domain-holdout splits. The
    fixture synthesizes URLs deterministically from doc fields; the
    oracle replays the decomposition with anchored regexes (equivalent
    on the synthesized shapes — parse_url's full RFC handling is wider
    than any regex replay, so the oracle constrains the fixture, not
    the operator). Registered domain here = last two host labels (a
    public-suffix list lookup composes as a broadcast join when real
    corpora need co.uk-style suffixes)."""
    t = _t(spark, sf_dir)
    url = F.concat(
        F.lit("https://www."), F.col("source"),
        F.lit(".example.com/docs/"), F.col("doc_id").cast("string"),
        F.lit("/view?lang="), F.col("lang"), F.lit("&ref=feed#top"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    return t["documents"].select(
        "doc_id",
        host.alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("reg_domain"),
    )


_Q130_SNIPPETS = {
    1: " \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440",
    2: " \u6570\u636e\u5904\u7406\u5f15\u64ce",
    3: " \u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645",
}


def _q130_sql() -> str:
    """Oracle for q130 built from the SAME constants the Spark side
    uses (snippets + SCRIPT_RANGES), so the two engines can never
    drift on the injected text or the codepoint classes."""
    from demy_spark.functions.textstats import SCRIPT_RANGES

    counts = ",\n             ".join(
        f"length(regexp_replace(txt, '[^{rng}]', '', 'g'))::BIGINT"
        f" AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    names_list = ", ".join(f"'{name}'" for name, _ in SCRIPT_RANGES)
    cols = ", ".join(f"n_{name}" for name, _ in SCRIPT_RANGES)
    return f"""
    WITH built AS (
      -- coalesce: NULL text still receives its per-id snippet (and
      -- the Spark side's concat must not go NULL) — degenerate-fuzz
      SELECT doc_id,
             coalesce(text, '') || CASE doc_id % 4
               WHEN 1 THEN '{_Q130_SNIPPETS[1]}'
               WHEN 2 THEN '{_Q130_SNIPPETS[2]}'
               WHEN 3 THEN '{_Q130_SNIPPETS[3]}'
               ELSE '' END AS txt
      FROM documents),
    counted AS (
      SELECT doc_id,
             {counts}
      FROM built),
    listed AS (
      SELECT *, [{cols}] AS l FROM counted)
    SELECT doc_id, {cols},
           (n_latin + n_cyrillic + n_greek + n_arabic + n_devanagari
            + n_cjk + n_hangul + n_kana) AS n_script_chars,
           CASE WHEN list_max(l) = 0 THEN 'und'
                ELSE [{names_list}][list_position(l, list_max(l))]
           END AS dominant
    FROM listed
    """


@register("q130_script_profile", _q130_sql())
def q130_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-mix profiling (functions/textstats.script_profile):
    per-script character counts over explicit BMP codepoint ranges
    plus the dominant script — the language-ROUTING signal that
    decides which script-specific pipeline a crawled document enters,
    and the mixed-script spam/mojibake flag. Explicit ranges, not
    \\p{{script=...}}: engines bind script properties to different
    Unicode versions, literal ranges cannot drift. The all-ASCII
    fixture gets deterministic per-id snippet injection (cyrillic /
    cjk / arabic by doc_id % 4) so every branch of the profile is
    exercised; snippets and ranges interpolate into the oracle from
    the same constants. Pure codegen regexp chain — a narrow per-row
    map at any scale. No reference analog (extension, like chunking)."""
    from demy_spark.functions.textstats import SCRIPT_RANGES, script_profile

    t = _t(spark, sf_dir)
    snippet = (
        F.when(F.col("doc_id") % 4 == 1, F.lit(_Q130_SNIPPETS[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(_Q130_SNIPPETS[2]))
        .when(F.col("doc_id") % 4 == 3, F.lit(_Q130_SNIPPETS[3]))
        .otherwise(F.lit(""))
    )
    prof = script_profile(
        F.concat(F.coalesce(F.col("text"), F.lit("")), snippet)
    )
    return (
        t["documents"]
        .select("doc_id", F.explode(F.array(prof)).alias("p"))
        .select(
            "doc_id",
            *[F.col(f"p.n_{name}") for name, _ in SCRIPT_RANGES],
            F.col("p.n_script_chars"),
            F.col("p.dominant"),
        )
    )


_Q131_HOST_SQL = """CASE doc_id % 7
               WHEN 0 THEN 'www.' || source || '.com'
               WHEN 1 THEN 'a.b.' || source || '.co.uk'
               WHEN 2 THEN source || '.github.io'
               WHEN 3 THEN 'x' || CAST(doc_id % 5 AS VARCHAR)
                           || '.w.' || source || '.ck'
               WHEN 4 THEN 'www.ck'
               WHEN 5 THEN source || '.ck'
               ELSE source || '.xyz' END"""


def _psl_rd_ctes(rule_strings: tuple[str, ...] | None = None) -> str:
    """Shared oracle CTE chain (q131/q132): the publicsuffix.org
    matching spec replayed RELATIONALLY (explode candidate suffixes →
    join the rules VALUES table → integer score argmax) against the
    same parsed-rule triples and score encoding the engine's
    closure-dict UDF uses — two independent formulations of one
    algorithm, one constant. Ends at ``rd(doc_id, host, text,
    reg_domain)``. ``rule_strings`` (default: the registered sample
    slice) lets tests replay the identical formulation over a
    file-parsed rule set (load_psl_rules) at production width."""
    from demy_spark.functions.domains import parsed_psl_rules

    parsed = (
        parsed_psl_rules(rule_strings)
        if rule_strings is not None
        else parsed_psl_rules()
    )
    rules = ",\n              ".join(
        f"('{key}', '{kind}', {eff})" for key, kind, eff in parsed
    )
    return f"""
    WITH hosts AS (
      SELECT doc_id, text, {_Q131_HOST_SQL} AS host
      FROM documents),
    lab AS (
      SELECT doc_id, host, text, string_split(host, '.') AS ls FROM hosts),
    cand AS (
      SELECT doc_id,
             array_to_string(ls[i:], '.') AS suffix,
             array_to_string(ls[i+1:], '.') AS parent,
             len(ls) - i + 1 AS nlab
      FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
            FROM lab)),
    rules(key, kind, eff) AS (VALUES {rules}),
    m AS (
      SELECT c.doc_id,
             CASE WHEN r.kind = 'exc' THEN 1000 + r.eff
                  WHEN r.kind = 'wild' THEN c.nlab
                  ELSE r.eff END AS score
      FROM cand c JOIN rules r ON c.suffix = r.key AND r.kind <> 'wild'
      UNION ALL
      SELECT c.doc_id, c.nlab AS score
      FROM cand c JOIN rules r ON c.parent = r.key AND r.kind = 'wild'),
    best AS (
      SELECT l.doc_id, l.host, l.text, len(l.ls) AS n, l.ls,
             coalesce(max(m.score), 1) % 1000 AS eff
      FROM lab l LEFT JOIN m ON l.doc_id = m.doc_id
      GROUP BY l.doc_id, l.host, l.text, l.ls),
    rd AS (
      SELECT doc_id, host, text,
             CASE WHEN n > eff
                  THEN array_to_string(ls[n-eff:], '.') END AS reg_domain
      FROM best)"""


def _q131_sql(rule_strings: tuple[str, ...] | None = None) -> str:
    return f"""{_psl_rd_ctes(rule_strings)}
    SELECT reg_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS sum_tokens,
           CAST(floor(sum(len({_TOKS_SQL})) * 1000000.0 / count(*)) AS BIGINT)
             AS avg_tokens_micro
    FROM rd GROUP BY reg_domain
    """


@register("q131_domain_rollup", _q131_sql())
def q131_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain quality rollup (functions/domains
    .registered_domain — the publicsuffix.org matching spec): the
    domain-level curation primitive RefinedWeb/CCNet-style pipelines
    gate on (per-domain quality stats, blocklists, domain-holdout
    splits). ``parse_url`` host alone cannot express it — multi-label
    public suffixes (co.uk, github.io) break "last two labels" (q129
    documents exactly this limitation). Hosts are synthesized
    deterministically from doc fields to cover every rule kind: plain
    TLD, multi-label suffix, private-registry suffix, wildcard *.ck,
    exception !www.ck, host == its own public suffix (NULL registered
    domain — those docs roll up under the NULL key, the "no
    registrable domain" bucket every real crawl has), and an unlisted
    TLD falling to the default * rule.

    Scale: the PSL lookup is a pure per-row map (the rule dict ships
    in the UDF closure — dictionary-sized by construction, like the
    ANN centroid tables); the only shuffle is the final rollup's
    hash aggregation on registered_domain, map-side combined. The
    oracle replays the spec relationally (suffix explode → rules
    join → score argmax) from the same parsed-rule constant."""
    return _q131_frame(spark, sf_dir)


def _q131_frame(
    spark: SparkSession, sf_dir: str, rule_strings: tuple[str, ...] | None = None
) -> DataFrame:
    """q131's body with an injectable rule set — the registered query
    uses the default slice; tests feed a load_psl_rules() file parse
    through the same plan and compare to _q131_sql(same rules)."""
    from demy_spark.functions.domains import registered_domain

    kw = {} if rule_strings is None else {"rules": rule_strings}
    t = _t(spark, sf_dir)
    host = _q131_host()
    toks = textstats.norm_tokens(F.col("text"))
    return (
        t["documents"]
        .select(
            registered_domain(host, **kw)["registered_domain"].alias("reg_domain"),
            F.size(toks).cast("long").alias("_nt_"),
        )
        .groupBy("reg_domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt_").cast("long").alias("sum_tokens"),
            F.floor(
                F.sum("_nt_") * F.lit(1000000.0) / F.count(F.lit(1))
            )
            .cast("long")
            .alias("avg_tokens_micro"),
        )
    )


def _q131_host():
    """The synthesized host Column q131/q132 share — one source of
    truth with ``_Q131_HOST_SQL``."""
    d = F.col("doc_id")
    return (
        F.when(d % 7 == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".com")))
        .when(d % 7 == 1, F.concat(F.lit("a.b."), F.col("source"), F.lit(".co.uk")))
        .when(d % 7 == 2, F.concat(F.col("source"), F.lit(".github.io")))
        .when(
            d % 7 == 3,
            F.concat(
                F.lit("x"),
                (d % 5).cast("string"),
                F.lit(".w."),
                F.col("source"),
                F.lit(".ck"),
            ),
        )
        .when(d % 7 == 4, F.lit("www.ck"))
        .when(d % 7 == 5, F.concat(F.col("source"), F.lit(".ck")))
        .otherwise(F.concat(F.col("source"), F.lit(".xyz")))
    )


def _q132_sql() -> str:
    return f"""{_psl_rd_ctes()},
    keyed AS (
      SELECT doc_id, text, coalesce(reg_domain, host) AS k FROM rd),
    assigned AS (
      SELECT doc_id, text, k,
             CASE WHEN {_md5_long_sql('k', 1)} % 1000 < 100
                  THEN 'valid' ELSE 'train' END AS split
      FROM keyed)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT k) AS BIGINT) AS n_domains,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS sum_tokens
    FROM assigned GROUP BY split
    """


@register("q132_domain_holdout", _q132_sql())
def q132_domain_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free domain-holdout split (functions/domains
    .holdout_split over the q131 registered-domain key): every page of
    a registered domain lands in the same train/valid side by hashing
    the DOMAIN, not the page — page-level random splits leak
    near-duplicate same-site content across the evaluation boundary,
    the standard web-corpus mistake decontamination pipelines guard
    against. Docs with no registrable domain (host == its own public
    suffix) key on the raw host, still leakage-free at host grain.

    Deterministic and reproducible by construction: the split is the
    oracle-contract md5 slice mod 1000 (< 100 → valid, a 10% target),
    so a domain keeps its side across re-crawls, engines and corpus
    versions — the property incremental pipelines (q110) depend on.
    Pure per-row map + one map-side-combined hash aggregation; the
    oracle replays PSL extraction, key fallback, hash and bucketing
    bit-for-bit."""
    from demy_spark.functions.domains import holdout_split, registered_domain

    t = _t(spark, sf_dir)
    host = _q131_host()
    toks = textstats.norm_tokens(F.col("text"))
    key = F.coalesce(
        registered_domain(host)["registered_domain"], host
    )
    return (
        t["documents"]
        .select(
            holdout_split(key, valid_permille=100).alias("split"),
            key.alias("_k_"),
            F.size(toks).cast("long").alias("_nt_"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("_k_").cast("long").alias("n_domains"),
            F.sum("_nt_").cast("long").alias("sum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 LLM-pipeline extensions: C4 line rules, positional phrase
# retrieval, Bloom membership gate, fill-in-the-middle transform.
# ---------------------------------------------------------------------------

# q133 line synthesis: the documents fixture is single-line token soup,
# so BOTH engines deterministically decorate it into multi-line pages
# first — 8-token lines, a 4-cycle of terminal punctuation (one line in
# four gets none), javascript/policy-phrase injections on fixed
# residues, and lorem-ipsum / brace tails on fixed doc residues — so
# every C4 rule fires on real inputs at any sf.
_Q133_SQL = f"""
    WITH t AS (SELECT doc_id, coalesce({_TOKS_SQL}, []) AS tk FROM documents),
    lines0 AS (
      -- greatest(..., 1) mirrors the Spark side's sequence floor so a
      -- zero-token document still yields ONE (empty) line in both
      -- engines instead of vanishing here; the slice is coalesced
      -- because DuckDB empty-range slices are NULL where Spark's are []
      SELECT doc_id, [coalesce(array_to_string(tk[i:i+7], ' '), '')
                      FOR i IN range(1, greatest(len(tk), 1) + 1, 8)] AS lns
      FROM t),
    lx AS (
      SELECT doc_id, generate_subscripts(lns, 1) - 1 AS j, unnest(lns) AS l
      FROM lines0),
    dec AS (
      SELECT doc_id, j,
             (CASE WHEN (doc_id + j) % 11 = 5 THEN 'javascript ' || l
                   WHEN (doc_id + j) % 13 = 7 THEN l || ' privacy policy'
                   ELSE l END)
             || (['.', '!', '', '?'])[CAST((doc_id + j) % 4 AS INT) + 1]
               AS line
      FROM lx),
    docs2 AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY j)
             || CASE WHEN doc_id % 23 = 1
                     THEN chr(10) || 'lorem ipsum dolor sit amet.'
                     WHEN doc_id % 29 = 2 THEN chr(10) || '{{ config }}.'
                     ELSE '' END AS doc
      FROM dec GROUP BY doc_id),
    ml AS (
      SELECT doc_id, doc, generate_subscripts(ls, 1) AS ln, unnest(ls) AS l
      FROM (SELECT doc_id, doc, string_split(doc, chr(10)) AS ls FROM docs2)),
    r AS (
      SELECT doc_id, doc, ln, trim(l) AS lt,
             CASE WHEN contains(lower(trim(l)), 'javascript') THEN 1
                  WHEN contains(lower(trim(l)), 'terms of use')
                    OR contains(lower(trim(l)), 'privacy policy')
                    OR contains(lower(trim(l)), 'cookie policy')
                    OR contains(lower(trim(l)), 'uses cookies') THEN 2
                  WHEN len(list_filter(string_split(lower(trim(l)), ' '),
                                       x -> x <> '')) < 5 THEN 3
                  WHEN NOT regexp_matches(trim(l), '[.!?"]$') THEN 4
                  ELSE 0 END AS reason
      FROM ml),
    agg AS (
      SELECT doc_id, any_value(doc) AS doc,
             coalesce(string_agg(lt, chr(10) ORDER BY ln)
                        FILTER (reason = 0), '') AS text_clean,
             count(*) AS n_lines,
             count(*) FILTER (reason = 0) AS n_kept,
             count(*) FILTER (reason = 1) AS n_js,
             count(*) FILTER (reason = 2) AS n_policy,
             count(*) FILTER (reason = 3) AS n_short,
             count(*) FILTER (reason = 4) AS n_nopunct
      FROM r GROUP BY doc_id)
    SELECT doc_id, text_clean,
           CAST(n_lines AS BIGINT)   AS n_lines,
           CAST(n_kept AS BIGINT)    AS n_kept,
           CAST(n_js AS BIGINT)      AS n_js,
           CAST(n_policy AS BIGINT)  AS n_policy,
           CAST(n_short AS BIGINT)   AS n_short,
           CAST(n_nopunct AS BIGINT) AS n_nopunct,
           contains(lower(doc), 'lorem ipsum') AS has_lorem,
           contains(doc, '{{') AS has_brace,
           (n_kept >= 3 AND NOT contains(lower(doc), 'lorem ipsum')
            AND NOT contains(doc, '{{')) AS keep
    FROM agg
    """


@register("q133_c4_filters", _Q133_SQL, gate_doc_ids=True)
def q133_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleanup (functions/textstats.c4_rules — the
    line-granular complement of q92's document-level gopher_rules;
    LLM-pipeline extension, no reference analog): keep a line only if
    it ends in terminal punctuation, has >= 5 words and mentions
    neither javascript nor a boilerplate policy phrase; drop the
    document when < 3 lines survive or it contains lorem ipsum / a
    curly brace. The whole operator is ONE let-bound per-row HOF chain
    (narrow map at any scale — no shuffle, no UDF); both engines first
    synthesize identical multi-line pages from the fixture soup so
    every rule actually fires (see _Q133_SQL header comment)."""
    t = _t(spark, sf_dir)
    # NULL text tokenizes to [] in both engines (oracle coalesces tk
    # the same way), so the sequence floor below sees size 0, not -1
    toks = F.coalesce(
        textstats.norm_tokens(F.col("text")), F.array().cast("array<string>")
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(8))
    lines = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 8)))
    punct = F.array(F.lit("."), F.lit("!"), F.lit(""), F.lit("?"))

    def decorate(line, j):
        r = F.col("doc_id") + j
        base = (
            F.when(F.pmod(r, F.lit(11)) == 5,
                   F.concat(F.lit("javascript "), line))
            .when(F.pmod(r, F.lit(13)) == 7,
                  F.concat(line, F.lit(" privacy policy")))
            .otherwise(line)
        )
        return F.concat(
            base,
            F.element_at(punct, (F.pmod(r, F.lit(4)) + 1).cast("int")),
        )

    tail = (
        F.when(F.col("doc_id") % 23 == 1,
               F.lit("\nlorem ipsum dolor sit amet."))
        .when(F.col("doc_id") % 29 == 2, F.lit("\n{ config }."))
        .otherwise(F.lit(""))
    )
    doc = F.concat(F.array_join(F.transform(lines, decorate), "\n"), tail)
    c4 = textstats.c4_rules(doc)
    # the HOF chain is compute-bound per row: spread an unsplittable
    # scan across the session's cores (no-op on multi-row-group
    # production input — guide §2.5; measured r13: 3.98 -> 1.10 on the
    # one-row-group sf0.1 fixture)
    return (
        spread_narrow_scan(_docw(t))
        .select("doc_id", c4.alias("_c4_"))
        .select(
            "doc_id",
            F.col("_c4_.text_clean").alias("text_clean"),
            F.col("_c4_.n_lines").cast("long").alias("n_lines"),
            F.col("_c4_.n_kept").cast("long").alias("n_kept"),
            F.col("_c4_.n_js").cast("long").alias("n_js"),
            F.col("_c4_.n_policy").cast("long").alias("n_policy"),
            F.col("_c4_.n_short").cast("long").alias("n_short"),
            F.col("_c4_.n_nopunct").cast("long").alias("n_nopunct"),
            F.col("_c4_.has_lorem").alias("has_lorem"),
            F.col("_c4_.has_brace").alias("has_brace"),
            F.col("_c4_.keep").alias("keep"),
        )
    )


_Q134_QUERIES = [
    (1, "table table"),
    (2, "fast key scan"),
    (3, "value table part"),
    (4, "agg row"),
    (5, "window agg stream vector"),
]

_Q134_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _Q134_QUERIES)

_Q134_SQL = f"""
    WITH dt AS (
      SELECT id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS w
      FROM (SELECT doc_id AS id, {_TOKS_SQL} AS tk FROM documents)),
    q AS (SELECT * FROM (VALUES {_Q134_VALUES}) AS t(qid, qtext)),
    qt AS (
      SELECT qid, generate_subscripts(qk, 1) - 1 AS i, unnest(qk) AS w
      FROM (SELECT qid, list_filter(string_split(trim(lower(qtext)), ' '),
                                    x -> x <> '') AS qk FROM q)),
    ql AS (SELECT qid, count(*) AS m FROM qt GROUP BY qid),
    cand AS (
      SELECT qt.qid, dt.id, dt.pos - qt.i AS a, qt.i
      FROM dt JOIN qt USING (w) WHERE dt.pos - qt.i >= 0),
    anch AS (
      SELECT qid, id, a, count(DISTINCT i) AS c
      FROM cand GROUP BY qid, id, a),
    occ AS (SELECT anch.qid, anch.id FROM anch
            JOIN ql USING (qid) WHERE anch.c = ql.m),
    agg AS (SELECT qid, id, count(*) AS n_occurrences FROM occ GROUP BY 1, 2),
    rnk AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY n_occurrences DESC, id) AS rk
      FROM agg)
    SELECT CAST(qid AS BIGINT) AS query_id, id AS doc_id,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(rk AS BIGINT) AS rk
    FROM rnk WHERE rk <= 10
    """


@register("q134_phrase_search", _Q134_SQL)
def q134_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (operators/retrieval.phrase_search — the
    positional-index complement of q117's bag-of-words BM25; Lucene
    PhraseQuery semantics at slop 0): five frozen phrases (including a
    duplicate-token phrase and a never-occurring one) ranked by
    occurrence count over the documents corpus. The plan is RAREST-TERM
    ANCHORED (r8; Lucene PhraseQuery's strategy — the reference's
    greedy-expansion analog is
    mllib/src/main/scala/index/NgramStrategy.scala:197-290): candidate
    anchors come only from each phrase's lowest-df term, other offsets
    verify via one positional equi-join; no m-way positional join
    chain, nothing corpus-scale broadcast, and the oracle replays
    anchor arithmetic exactly (both anchoring strategies produce
    identical rows — the probe asserts it). At every fixture scale the
    held plan fits under ``retrieval._HELD_ROWS_MAX`` rows, so the call
    finishes on the driver and returns a LocalRelation."""
    from demy_spark.operators.retrieval import phrase_search

    t = _t(spark, sf_dir)
    qdf = local_frame(spark, _Q134_QUERIES, "query_id long, qtext string")
    out = phrase_search(
        t["documents"], "doc_id", "text", qdf, "query_id", "qtext", k=10
    )
    return out.select(
        "query_id",
        "doc_id",
        "n_occurrences",
        F.col("rk").cast("long").alias("rk"),
    )


_Q135_M = 1024
_Q135_K = 3

_Q135_SQL = f"""
    WITH kt AS (
      -- coalesced: DuckDB array_to_string([]) is NULL where Spark
      -- array_join gives '' — zero-token and NULL-text docs share
      -- the '' key in BOTH engines (degenerate-fuzz)
      SELECT doc_id, coalesce(array_to_string({_TOKS_SQL}, ' '), '') AS k
      FROM documents),
    b AS (SELECT DISTINCT k FROM kt WHERE doc_id % 3 <> 0),
    bh AS (
      SELECT {_md5_long_sql('k', 1)} AS h1,
             {_md5_long_sql('k', 16, 8)} & 2147483647 AS h2
      FROM b),
    bbits AS (
      SELECT ((h1 + i * h2) % {_Q135_M}) AS pos
      FROM bh, unnest(range(0, {_Q135_K})) AS u(i)),
    words AS (
      SELECT pos // 32 AS word,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
      FROM bbits GROUP BY 1),
    pk AS (SELECT DISTINCT k FROM kt),
    ph AS (
      SELECT k, {_md5_long_sql('k', 1)} AS h1,
             {_md5_long_sql('k', 16, 8)} & 2147483647 AS h2
      FROM pk),
    pp AS (
      SELECT k, ((h1 + i * h2) % {_Q135_M}) AS pos
      FROM ph, unnest(range(0, {_Q135_K})) AS u(i)),
    hit AS (
      SELECT pp.k,
             coalesce(((w.bits >> CAST(pp.pos % 32 AS INT)) & 1) = 1,
                      FALSE) AS h
      FROM pp LEFT JOIN words w ON pp.pos // 32 = w.word),
    mem AS (SELECT k, bool_and(h) AS maybe_member FROM hit GROUP BY k),
    ex AS (
      SELECT mem.maybe_member, (b.k IS NOT NULL) AS is_member
      FROM mem LEFT JOIN b ON mem.k = b.k)
    SELECT is_member, maybe_member, CAST(count(*) AS BIGINT) AS n_keys
    FROM ex GROUP BY 1, 2
    """


@register("q135_bloom_gate", _Q135_SQL)
def q135_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate (operators/sketches.bloom_bitmap +
    bloom_probe — the sketch path beside q101's exact incremental
    dedup index): build the bitmap over two-thirds of the corpus
    (doc_id % 3 <> 0), probe EVERY document's normalized-text key, and
    report the (is_member, maybe_member) confusion counts — the
    no-false-negatives row plus the measured false-positive mass. The
    bitmap is deliberately undersized here ({_Q135_M} bits, {_Q135_K}
    hashes) so false positives EXIST and the oracle must reproduce the
    exact set bits to match the counts; production defaults are 2^20
    bits / 7 hashes. Build reduces to a constant-size word frame that
    broadcasts to the probe — the corpus never joins itself."""
    from demy_spark.operators.sketches import bloom_bitmap, bloom_probe

    t = _t(spark, sf_dir)
    keyed = t["documents"].select(
        "doc_id",
        F.coalesce(
            F.array_join(textstats.norm_tokens(F.col("text")), " "), F.lit("")
        ).alias("k"),
    )
    build = keyed.where(F.col("doc_id") % 3 != 0).select("k").distinct()
    bitmap = bloom_bitmap(build, "k", m_bits=_Q135_M, n_hashes=_Q135_K)
    # probe DISTINCT keys (n_keys counts keys, not doc rows — two
    # documents with identical normalized text are one key; found by
    # the degenerate-document fuzz, where the sf fixtures' all-unique
    # texts had hidden the difference)
    probed = bloom_probe(
        keyed.select("k").distinct(), "k", bitmap, m_bits=_Q135_M, n_hashes=_Q135_K
    )
    return (
        probed.join(
            build.withColumn("_mem_", F.lit(True)),
            probed["key"] == build["k"],
            "left",
        )
        .select(
            F.coalesce(F.col("_mem_"), F.lit(False)).alias("is_member"),
            "maybe_member",
        )
        .groupBy("is_member", "maybe_member")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )


_Q136_SQL = f"""
    WITH t AS (
      -- coalesce mirrors fim_split's NULL-text guard: a NULL text
      -- tokenizes to [] in both engines (n = 0), not NULL (where the
      -- cut arithmetic would go NULL-vs-negative and diverge)
      SELECT doc_id, coalesce({_TOKS_SQL}, []) AS tk,
             CAST(doc_id AS VARCHAR) || chr(1) || '7' AS key
      FROM documents),
    h AS (
      SELECT doc_id, tk, len(tk) AS n,
             ({_md5_long_sql('key', 1, 8)} % 100) < 50 AS take,
             {_md5_long_sql('key', 9, 8)} AS ha,
             {_md5_long_sql('key', 17, 8)} AS hb
      FROM t),
    c AS (
      SELECT doc_id, tk, n, take,
             least(ha % (n + 1), hb % (n + 1)) AS lo,
             greatest(ha % (n + 1), hb % (n + 1)) AS hi
      FROM h)
    SELECT doc_id,
           -- each slice coalesced: DuckDB empty-range slices (lo=0,
           -- hi=lo, hi=n) surface as NULL where Spark yields [] -> ''
           CASE WHEN take THEN '<PRE> '
                  || coalesce(array_to_string(tk[1:lo], ' '), '')
                  || ' <SUF> '
                  || coalesce(array_to_string(tk[hi+1:], ' '), '')
                  || ' <MID> '
                  || coalesce(array_to_string(tk[lo+1:hi], ' '), '')
                ELSE coalesce(array_to_string(tk, ' '), '') END AS text_fim,
           CAST(CASE WHEN take THEN lo ELSE n END AS BIGINT) AS n_prefix,
           CAST(CASE WHEN take THEN hi - lo ELSE 0 END AS BIGINT) AS n_middle,
           CAST(CASE WHEN take THEN n - hi ELSE 0 END AS BIGINT) AS n_suffix,
           take AS fim
    FROM c
    """


@register("q136_fim_split", _Q136_SQL, gate_doc_ids=True)
def q136_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (operators/packing.fim_split — the
    dataloader-side PSM rewrite between curation and q94's packing;
    LLM-pipeline extension, no reference analog): half the corpus
    (selected by an md5 residue of the salted doc id, no RNG state)
    splits its token stream at two md5-derived cut points into
    prefix / middle / suffix and re-serializes as
    ``<PRE> p <SUF> s <MID> m``; the rest passes through. Pure narrow
    per-row map — no shuffle, no UDF — and the oracle replays
    selection, cuts and layout bit-for-bit."""
    from demy_spark.operators.packing import fim_split

    t = _t(spark, sf_dir)
    return fim_split(_docw(t), "doc_id", "text", rate_pct=50, salt=7)


# UT1-style category blocklist: registered domains plus one bare-host
# entry (src6.ck has no registrable domain — host == its own *.ck
# public suffix) and one never-matching domain (unmatched blocklist
# rows must not affect the gate).
_Q137_BLOCKLIST = (
    ("src1.com", "ads"),
    ("src3.com", "adult"),
    ("src5.co.uk", "malware"),
    ("src7.github.io", "ads"),
    ("w.src2.ck", "phishing"),
    ("src4.xyz", "adult"),
    ("www.ck", "ads"),
    ("src6.ck", "malware"),
    ("blocked.example", "ads"),
)

_Q137_BL_VALUES = ", ".join(f"('{d}', '{c}')" for d, c in _Q137_BLOCKLIST)


def _q137_sql() -> str:
    return f"""{_psl_rd_ctes()},
    bl(domain, category) AS (VALUES {_Q137_BL_VALUES}),
    g AS (
      SELECT rd.doc_id, rd.reg_domain, bl.category
      FROM rd LEFT JOIN bl ON coalesce(rd.reg_domain, rd.host) = bl.domain)
    SELECT doc_id, reg_domain, category, category IS NULL AS keep FROM g
    """


@register("q137_blocklist_gate", _q137_sql())
def q137_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain blocklist gate (functions/domains
    .blocklist_gate — VERDICT r6 task 8): the UT1-style categorized
    domain blocklist join every CCNet/RefinedWeb-lineage pipeline
    applies after URL decomposition, composed from the existing PSL
    extraction (q131) and a broadcast semi-join. The gate key is
    ``coalesce(registered_domain, host)`` so bare-host blocklist
    entries (a host that IS its own public suffix) still match.

    Scale: PSL lookup is a pure per-row map; the blocklist (small by
    construction, thousands of rows in the real UT1 sets) broadcasts —
    the whole gate is shuffle-free at any corpus size. The oracle
    replays the PSL spec relationally + the same VALUES blocklist."""
    from demy_spark.functions.domains import blocklist_gate

    t = _t(spark, sf_dir)
    bl = local_frame(spark, _Q137_BLOCKLIST, "domain string, category string")
    docs = t["documents"].select("doc_id", _q131_host().alias("host"))
    return blocklist_gate(docs, "host", bl).select(
        "doc_id", "reg_domain", "category", "keep"
    )


# hybrid retrieval: the q117 keyword queries each paired with a fixed
# dense query vector (embeddings row vec_id = 7 * query_id) — the
# "text query + its embedding" input every sparse+dense stack has
_Q138_QVECS = "7, 14, 21, 28"


def _q138_sql() -> str:
    return f"""
    WITH sparse AS (SELECT * FROM ({_Q117_SQL})),
    vn AS (
      SELECT vec_id, sqrt(sum(x * x)) AS nx
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x FROM embeddings)
      GROUP BY 1),
    dense AS (
      -- zero-norm guard (oracle contract): the engine's cosine scores
      -- a zero vector 0, DuckDB's raw helper returns -1
      SELECT CAST(q.vec_id // 7 AS BIGINT) AS query_id, b.vec_id AS doc_id,
             CAST(row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CASE WHEN nq.nx > 0 AND nb.nx > 0
                               THEN list_cosine_similarity(
                                   q.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[])
                               ELSE 0 END
                          DESC, b.vec_id) AS BIGINT) AS rk
      FROM embeddings q
      JOIN embeddings b ON q.vec_id IN ({_Q138_QVECS})
      JOIN vn nq ON q.vec_id = nq.vec_id
      JOIN vn nb ON b.vec_id = nb.vec_id
      QUALIFY rk <= 10),
    u AS (
      SELECT query_id, doc_id,
             CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) AS pts FROM sparse
      UNION ALL
      SELECT query_id, doc_id,
             CAST(floor(1000000.0 / (60 + rk)) AS BIGINT) AS pts FROM dense),
    f AS (SELECT query_id, doc_id, sum(pts) AS rrf_micro FROM u GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_micro DESC, doc_id) AS rk FROM f)
    SELECT query_id, doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 10
    """


@register("q138_hybrid_rrf", _q138_sql(), gate_embeddings=True)
def q138_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval via Reciprocal Rank Fusion
    (operators/retrieval.rrf_fuse — the standard production combiner;
    LLM-pipeline extension, no reference analog): the q117 BM25
    keyword lists and a brute-force cosine list over the embeddings
    corpus (each text query paired with a fixed dense query vector,
    vec_id = 7 x query_id) fuse by summed integer micro-points
    ``floor(1e6 / (60 + rank))`` — rank-only fusion, no score-scale
    mixing, oracle-exact in both engines.

    Scale: both input lists are top-k (queries x k rows); the fusion
    union + hash agg + rank window never touch corpus-sized data. The
    dense list reuses q23's broadcast-query scoring shape; the sparse
    list is q117's postings plan."""
    from demy_spark.operators.retrieval import bm25_search, rrf_fuse

    t = _t(spark, sf_dir)
    qdf = local_frame(spark, _Q117_QUERIES, "query_id long, qtext string")
    sparse = bm25_search(
        t["documents"], "doc_id", "text", qdf, "query_id", "qtext", k=10
    )
    emb = _embw(t)
    qv = emb.where(F.col("vec_id").isin(7, 14, 21, 28)).select(
        (F.col("vec_id") / 7).cast("long").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    scored = emb.crossJoin(F.broadcast(qv)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        cosine_similarity("q_emb", "embedding").alias("sim"),
    )
    wd = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "doc_id")
    dense = scored.withColumn("rk", F.row_number().over(wd)).where(
        F.col("rk") <= 10
    )
    return rrf_fuse(
        [
            (sparse, "query_id", "doc_id", "rk"),
            (dense, "query_id", "doc_id", "rk"),
        ]
    ).select("query_id", "doc_id", "rrf_micro", F.col("rk").cast("long").alias("rk"))


_Q139_SQL = (
    """
    WITH dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS d,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM dims GROUP BY 1),
    cent0 AS (SELECT vec_id % 8 AS c, d, avg(x) AS m FROM dims GROUP BY 1, 2),"""
    + _kmeans_round_sql(1, "cent0")
    + _kmeans_round_sql(2, "cent1")
    + _kmeans_round_sql(3, "cent2")
    + _kmeans_round_sql(4, "cent3")
    + """
    probe AS (
        SELECT query_id, c FROM (
            SELECT d4.vec_id AS query_id, d4.c,
                   row_number() OVER (PARTITION BY d4.vec_id
                       ORDER BY d4.dot / nullif(v.nx * cn.nc, 0) DESC, d4.c ASC
                   ) AS rk
            FROM dot4 d4
            JOIN vnorm v ON d4.vec_id = v.vec_id
            JOIN cnorm4 cn ON d4.c = cn.c
            WHERE d4.vec_id < 5
        ) WHERE rk <= 2),
    targets AS (
        SELECT vec_id AS query_id, CAST(vec_id % 3 AS INTEGER) AS target
        FROM embeddings WHERE vec_id < 5),
    cand AS (
        SELECT p.query_id, t.target, a.vec_id AS neighbor_id
        FROM probe p
        JOIN targets t ON p.query_id = t.query_id
        JOIN assign4 a ON a.c = p.c AND a.vec_id <> p.query_id
        JOIN embeddings cb ON a.vec_id = cb.vec_id AND cb.label = t.target),
    sims AS (
        SELECT cand.query_id, cand.target, cand.neighbor_id,
               CASE WHEN nq.nx > 0 AND nb.nx > 0
                    THEN list_cosine_similarity(qa.embedding::DOUBLE[],
                                                qb.embedding::DOUBLE[])
                    ELSE 0 END AS sim
        FROM cand
        JOIN embeddings qa ON cand.query_id = qa.vec_id
        JOIN embeddings qb ON cand.neighbor_id = qb.vec_id
        JOIN vnorm nq ON cand.query_id = nq.vec_id
        JOIN vnorm nb ON cand.neighbor_id = nb.vec_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM sims)
    SELECT query_id, target, neighbor_id, round(sim, 4) + 0.0 AS sim,
           rk::INTEGER AS rk
    FROM ranked WHERE rk <= 5
    """
)


@register("q139_filtered_ann", _Q139_SQL, gate_embeddings=True)
def q139_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (similarity.ivf_cosine_topk
    ``filter_cols=`` — LLM-pipeline extension, the "top-k within a
    category" query every production vector store serves): q53's IVF
    probe with a per-query typed point filter (each query carries a
    target label = ``vec_id % 3``; candidates must match it) ANDed
    into the candidate frame BEFORE the exact cosine rerank — the
    post-probe filter of real filtered-ANN engines, same NULL-means-
    unconstrained contract as fuzzy_lookup's typed filters.

    Scale: the filter shrinks the rerank stage, not just the output;
    candidate volume stays ~nprobe/n_lists of the corpus times the
    filter's selectivity. The oracle replays quantizer training (4
    unrolled Lloyd CTEs), the probe, the label filter and the rerank
    end to end."""
    from demy_spark.operators.similarity import ivf_cosine_topk

    t = _t(spark, sf_dir)
    emb = _embw(t).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    queries = emb.where(F.col("vec_id") < 5).withColumn(
        "target", F.pmod(F.col("vec_id"), F.lit(3)).cast("int")
    )
    out = ivf_cosine_topk(
        emb,
        queries,
        "embedding",
        "vec_id",
        k=5,
        n_lists=8,
        nprobe=2,
        train_iters=3,
        filter_cols=[("target", "label")],
    )
    targets = queries.select(F.col("vec_id").alias("query_id"), "target")
    return out.join(F.broadcast(targets), "query_id").select(
        "query_id", "target", "neighbor_id", F.round("sim", 4).alias("sim"), "rk"
    )


_Q140_BUDGET = 800  # tokens per source — binds even at sf0.001

_Q140_SQL = f"""
    WITH s AS (
      SELECT doc_id, source,
             coalesce(len({_TOKS_SQL}), 0) AS n_tok,
             coalesce(len(list_filter({_TOKS_SQL},
                 x -> x IN ('the','of','and','to','in','is','that','it','for','was'))),
                 0) AS sw
      FROM documents),
    sc AS (
      SELECT *,
             CAST(floor(least(n_tok / 50.0, 1.0) * 1000000.0) AS BIGINT)
             + CAST(floor(CASE WHEN n_tok > 0
                                THEN least(sw / (n_tok * 1.0) * 4.0, 1.0)
                                ELSE 0.0 END * 1000000.0) AS BIGINT)
               AS score_micro
      FROM s),
    c AS (
      SELECT *, sum(n_tok) OVER (PARTITION BY source
                 ORDER BY score_micro DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM sc)
    SELECT source,
           CAST(count(*) FILTER (cum <= {_Q140_BUDGET}) AS BIGINT) AS n_kept,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(coalesce(sum(n_tok) FILTER (cum <= {_Q140_BUDGET}), 0) AS BIGINT)
             AS tokens_kept,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total
    FROM c GROUP BY source
    """


@register("q140_budget_select", _Q140_SQL)
def q140_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection (operators/selection
    .token_budget_select — LLM-pipeline extension, no reference
    analog): per source, keep documents best-quality-first until the
    running token total would exceed the budget — the "B training
    tokens per source" curation cut between scoring (q21/q98/q99) and
    packing (q94). The quality score is the q21 component pair in
    integer micro-units (deterministic cross-engine ordering), ties to
    ascending doc id, and a kept document fits entirely.

    Scale: one hash shuffle on source + an in-partition sort; the
    rollup is map-side combined. The oracle replays scoring, ordering,
    the running sum and the cut."""
    from demy_spark.operators.selection import token_budget_select

    t = _t(spark, sf_dir)
    toks = F.coalesce(
        textstats.norm_tokens(F.col("text")), F.array().cast("array<string>")
    )
    n_tok = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*textstats.LANG_PROFILES["en"])))
    score = (
        F.floor(F.least(n_tok / F.lit(50.0), F.lit(1.0)) * 1000000.0).cast("long")
        + F.floor(
            F.when(
                n_tok > 0, F.least(sw / n_tok.cast("double") * 4.0, F.lit(1.0))
            ).otherwise(F.lit(0.0))
            * 1000000.0
        ).cast("long")
    )
    scored = t["documents"].select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tok"),
        score.alias("score_micro"),
    )
    sel = token_budget_select(
        scored, "score_micro", "n_tok", _Q140_BUDGET, by=["source"], id_col="doc_id"
    )
    return sel.groupBy("source").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_tok"))), F.lit(0)
        )
        .cast("long")
        .alias("tokens_kept"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
    )


def _q141_oracle() -> str:
    """Literal expected crawl results, computed INDEPENDENTLY of the
    crawler: spool names are hand-written from the documented naming
    contract (path relative to the href prefix, flattened ``/``→``-``
    with an 8-hex md5-of-url suffix for nested paths), and hashes /
    sizes / head-check footprints come straight from the fixture bytes
    via hashlib — the crawler's BFS, robots filtering, policy and
    spool code never touch this side."""
    import hashlib as _hl
    import json as _json

    site = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "crawl_site"
    )

    def h8(u: str) -> str:
        return _hl.md5(u.encode()).hexdigest()[:8]

    # the start page itself is never in the download set: it is
    # visited before any page can link back to it, and visited pages
    # never re-enter the frontier (the reference's toVisit/visited
    # walk has the same property)
    expected = {
        "a.html": "a.html",
        "b.html": "b.html",
        f"sub-c.html-{h8('http://site.test/sub/c.html')}": "sub/c.html",
        f"data-tarifs.csv-{h8('http://site.test/data/tarifs.csv')}": (
            "data/tarifs.csv"
        ),
    }
    vals = []
    for name, rel in sorted(expected.items()):
        with open(os.path.join(site, rel), "rb") as f:
            body = f.read()
        md5 = _hl.md5(body).hexdigest()
        fp = _json.dumps(
            {"Content-Length": str(len(body)), "ETag": md5}, sort_keys=True
        ).replace("'", "''")
        vals.append(
            f"('{name}', '{md5}', CAST({len(body)} AS BIGINT), '{fp}')"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(name, content_md5, n_bytes, footprint)"
    )


@register("q141_crawl_site", _q141_oracle)
def q141_crawl_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawler run with an oracle (net2demy
    `Execute.scala:46-218`): BFS-crawl the in-tree fixture site
    through the file-backed fetcher (zero network), honoring
    robots.txt (/private/ never downloaded) and the follow/matching
    regexes, under the head-check cache policy (footprint sidecars,
    `Execute.scala:247-290`); spool → parquet → DataFrame of
    (spool name, content md5, byte size, footprint). The oracle is a
    literal table built from the fixture bytes alone — link following,
    robots filtering, spool naming and sidecar writes are all
    value-verified. Crawling is driver-side by design (SURVEY §2.1:
    frontier walks are sequential and network-bound); everything
    data-sized lands in the spool where Spark takes over."""
    import shutil

    from demy_spark.crawler import (
        CrawlConfig,
        make_file_fetch,
        make_file_head,
        sync_source,
    )

    site = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "crawl_site"
    )
    dest = _layout_scratch(sf_dir, "q141")
    shutil.rmtree(dest, ignore_errors=True)
    cfg = CrawlConfig(
        name="fixture-site",
        href="http://site.test/index.html",
        dest=dest,
        type="crawl",
        policy="head-check",
        crawling_filter=r"^http://site\.test/",
        crawling_matching=r"\.(html|csv)$",
    )
    sync_source(
        spark,
        cfg,
        fetch=make_file_fetch(site, "http://site.test"),
        head=make_file_head(site, "http://site.test"),
    )
    raw = spark.read.format("binaryFile").load(dest).select(
        F.substring_index("path", "/", -1).alias("fname"),
        "content",
        F.col("length").cast("long").alias("n_bytes"),
    )
    files = raw.where(~F.col("fname").endswith(".cache")).select(
        F.col("fname").alias("name"),
        F.md5("content").alias("content_md5"),
        "n_bytes",
    )
    caches = raw.where(F.col("fname").endswith(".cache")).select(
        F.expr("substring(fname, 1, length(fname) - 6)").alias("name"),
        F.col("content").cast("string").alias("footprint"),
    )
    out = files.join(caches, "name", "left")
    pq = _layout_scratch(sf_dir, "q141_out")
    out.write.mode("overwrite").parquet(pq)
    return spark.read.parquet(pq)


@register(
    "q142_crs_reproject",
    """
    WITH base AS (
      SELECT CAST(n_nationkey AS BIGINT) AS nkey, n_name AS name,
             CAST(-4.0 AS DOUBLE) + (n_nationkey % 5) * 2.75 AS lon,
             CAST(41.5 AS DOUBLE) + (n_nationkey // 5) * 1.9 AS lat,
             CAST(0.05 AS DOUBLE) + (n_nationkey % 3) * 0.02 AS d
      FROM nation)
    SELECT nkey, name,
           'EPSG:2154' AS base_crs,
           TRUE AS transformed_to_wgs84,
           round(lon - d, 6) + 0.0 AS lon_min,
           round(lat - d, 6) + 0.0 AS lat_min,
           round(lon + d, 6) + 0.0 AS lon_max,
           round(lat + d, 6) + 0.0 AS lat_max,
           round(5 * lon - d, 6) + 0.0 AS sum_lon,
           round(5 * lat - d, 6) + 0.0 AS sum_lat
    FROM base
    """,
)
def q142_crs_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapefile CRS reprojection to WGS84 (GeoManager.scala:128-180;
    output fields BaseCoordinateSystem / TransformedToWGS84,
    GeoManager.scala:60): one square per nation is laid out at a
    closed-form WGS84 lon/lat, FORWARD-projected to Lambert-93 metres
    (EPSG:2154 — the CRS the reference's IRIS shapefiles actually ship
    in) by the fixture writer, written as .shp/.dbf/.prj, and read
    back through read_shapefile, whose closed-form inverse must
    recover the original lon/lat. The oracle replays the closed-form
    WGS84 layout straight from the nation table — it never sees the
    projection, so a consistent-but-wrong forward/inverse pair cannot
    self-certify here beyond roundtrip identity; absolute correctness
    is pinned separately against IGN's published Lambert-93 constants
    and a real-world Paris anchor (tests/test_crs.py). Reprojection is
    driver-side like all shapefile parsing: polygons are broadcast
    dimension tables; the 100 TB side is points."""
    import os

    from demy_spark.crs import LAMBERT93_WKT, parse_wkt
    from demy_spark.shapefile import (
        build_dbf_bytes,
        build_shp_bytes,
        read_shapefile,
    )

    fwd = parse_wkt(LAMBERT93_WKT).projection.forward
    t = _t(spark, sf_dir)
    nations = sorted(
        t["nation"].select("n_nationkey", "n_name").collect(),
        key=lambda r: r["n_nationkey"],
    )
    polys, rows = [], []
    for r in nations:
        k = int(r["n_nationkey"])
        lon, lat = -4.0 + (k % 5) * 2.75, 41.5 + (k // 5) * 1.9
        d = 0.05 + (k % 3) * 0.02
        ring = [
            (lon - d, lat - d),
            (lon + d, lat - d),
            (lon + d, lat + d),
            (lon - d, lat + d),
            (lon - d, lat - d),
        ]
        polys.append([[fwd(x, y) for x, y in ring]])
        rows.append([str(k), r["n_name"]])
    scratch = _layout_scratch(sf_dir, "q142")
    os.makedirs(scratch, exist_ok=True)
    shp = os.path.join(scratch, "iris.shp")
    with open(shp, "wb") as f:
        f.write(build_shp_bytes(polys))
    with open(os.path.join(scratch, "iris.dbf"), "wb") as f:
        f.write(build_dbf_bytes([("NKEY", "N", 4), ("NAME", "C", 25)], rows))
    with open(os.path.join(scratch, "iris.prj"), "w", encoding="utf-8") as f:
        f.write(LAMBERT93_WKT)
    df = read_shapefile(spark, shp)
    r6 = lambda c: (F.round(c, 6) + F.lit(0.0)).cast("double")  # noqa: E731
    return df.select(
        F.col("NKEY").alias("nkey"),
        F.col("NAME").alias("name"),
        "base_crs",
        "transformed_to_wgs84",
        r6(F.col("x_min")).alias("lon_min"),
        r6(F.col("y_min")).alias("lat_min"),
        r6(F.col("x_max")).alias("lon_max"),
        r6(F.col("y_max")).alias("lat_max"),
        r6(F.aggregate("xs", F.lit(0.0), lambda a, x: a + x)).alias("sum_lon"),
        r6(F.aggregate("ys", F.lit(0.0), lambda a, y: a + y)).alias("sum_lat"),
    )


@register(
    "q143_remote_store",
    """
    WITH base AS (
      SELECT CAST(n_nationkey AS BIGINT) AS nkey,
             'file_' || CAST(n_nationkey AS VARCHAR) || '.txt' AS name,
             repeat(n_name || ';', CAST(5 + n_nationkey % 7 AS INT)) AS payload
      FROM nation)
    SELECT nkey, name,
           CAST(length(payload) AS BIGINT) AS n_bytes,
           CAST(ceil(length(payload) / 16.0) AS BIGINT) AS n_chunks,
           md5(payload) AS content_md5,
           'batch ' || CAST(nkey % 3 AS VARCHAR) AS comment
    FROM base
    """,
)
def q143_remote_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EpiFiles remote-store roundtrip with an oracle
    (`core/src/main/scala/Storage/EpiFiles.scala:20-185`): one
    closed-form payload per nation is UPLOADED through the chunked
    multipart wire protocol to the in-module MemoryEpiServer
    (chunk_size=16 so every file really multi-chunks), recovered via
    the manifest (`find` by name regex — newest-first semantics,
    `EpiFiles.scala:82-115`), chunk-downloaded, and landed in the
    spool, where Spark takes over (binaryFile scan -> md5/size). The
    oracle replays the payload closed-form from the nation table —
    chunk split, base64+md5 chunk envelopes, manifest listing,
    re-assembly order and the atomic spool write are all
    value-verified. Driver-side by design like the crawler (SURVEY
    §2.1): a chunked HTTP exchange has no distributed structure; the
    spool is the engine handoff."""
    import shutil

    from demy_spark.remotestore import (
        HttpFileStore,
        MemoryEpiServer,
        fetch_to_spool,
    )

    t = _t(spark, sf_dir)
    nations = sorted(
        t["nation"].select("n_nationkey", "n_name").collect(),
        key=lambda r: r["n_nationkey"],
    )
    server = MemoryEpiServer()
    store = HttpFileStore(
        "http://epi.test", chunk_size=16, transport=server.transport
    )
    scratch = _layout_scratch(sf_dir, "q143")
    shutil.rmtree(scratch, ignore_errors=True)
    # the spool dir must exist even when the corpus is EMPTY (the
    # empty-tables fuzz runs every query over zero-row schemas): an
    # empty binaryFile scan of an existing dir is a valid empty frame,
    # a missing path is an AnalysisException
    os.makedirs(scratch, exist_ok=True)
    meta = []
    for r in nations:
        k = int(r["n_nationkey"])
        name = f"file_{k}.txt"
        payload = ((r["n_name"] + ";") * (5 + k % 7)).encode("utf-8")
        store.upload(name, payload, comment=f"batch {k % 3}")
        found = store.find(name_pattern=f"^{re.escape(name)}$")
        n_chunks = len(server.files[found.id]["chunks"])
        fetch_to_spool(store, found.id, os.path.join(scratch, name))
        meta.append((k, name, n_chunks, found.comment))
    meta_df = local_frame(
        spark, meta, "nkey long, name string, n_chunks long, comment string"
    )
    spooled = spark.read.format("binaryFile").load(scratch).select(
        F.substring_index("path", "/", -1).alias("name"),
        F.md5("content").alias("content_md5"),
        F.col("length").cast("long").alias("n_bytes"),
    )
    return spooled.join(F.broadcast(meta_df), "name")


def _murmur3_x86_32(data: bytes, seed: int = 42) -> int:
    """Oracle-side MurmurHash3 x86_32 — an independent pure-Python
    implementation of Austin Appleby's PUBLIC-DOMAIN reference
    (https://github.com/aappleby/smhasher, MurmurHash3.cpp), the
    algorithm Spark's ``HashingTF`` hashes terms with (UTF-8 bytes,
    seed 42, standard tail accumulation). Written from the published
    math, NOT from Spark's Java — that independence is the point:
    this side of the q144 comparison never touches the engine.
    Returns a SIGNED 32-bit int (the JVM convention), so bucket
    assignment needs the same non-negative mod Spark applies."""
    h1 = seed & 0xFFFFFFFF
    n_aligned = len(data) - len(data) % 4
    for i in range(0, n_aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    k1 = 0
    for shift, i in enumerate(range(n_aligned, len(data))):
        k1 ^= (data[i] & 0xFF) << (shift * 8)
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 ^= k1
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_Q144_BUCKETS = 1024
# The hashed vocabulary is the documents table's CLOSED categorical
# domain (TESTDATA.md: 5 langs × 20 sources at every SF) plus the
# lang_source composites — 125 terms, enumerable without touching
# data, so the oracle can carry the murmur3 bucket of every possible
# term as a literal. A term in the data but outside this enumeration
# would join-drop on the oracle side only and fail the row loudly.
_Q144_LANGS = ["de", "en", "es", "fr", "zh"]
_Q144_SOURCES = [f"src{i}" for i in range(20)]


def _q144_oracle() -> str:
    """Literal (term, bucket) lookup computed INDEPENDENTLY of the
    engine: pure-Python murmur3 over the enumerable vocabulary with
    Spark's documented non-negative mod. HashingTF's transform never
    touches this side."""
    terms = list(_Q144_LANGS) + list(_Q144_SOURCES) + [
        f"{lg}_{sc}" for lg in _Q144_LANGS for sc in _Q144_SOURCES
    ]
    rows = ", ".join(
        f"('{t}', {(_murmur3_x86_32(t.encode('utf-8')) % _Q144_BUCKETS + _Q144_BUCKETS) % _Q144_BUCKETS})"
        for t in terms
    )
    return f"""
    WITH lut(term, bucket) AS (VALUES {rows}),
    toks AS (
      SELECT term FROM (
        SELECT lang AS term FROM documents
        UNION ALL SELECT source AS term FROM documents
        UNION ALL SELECT lang || '_' || source AS term FROM documents
      ) WHERE term IS NOT NULL)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
    FROM toks JOIN lut USING (term)
    GROUP BY bucket
    """


@register("q144_hashingtf_buckets", _q144_oracle)
def q144_hashingtf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayHasher bucket assignment, value-verified end-to-end
    (VERDICT r9 task 3 — flips the last HashingTF tested-only row to
    oracle-pass). The engine path is the REAL ``pyspark.ml`` HashingTF
    (feature/ArrayHasher.scala:20-30 parity — murmur3 term hashing,
    seed 42, non-negative mod): the corpus's categorical terms (lang,
    source, lang_source composite) hash into 1024 buckets, and the
    per-bucket occupancy (occurrence count + distinct-term count,
    i.e. collisions made visible) is compared against an oracle whose
    buckets come from an independent pure-Python murmur3
    (:func:`_murmur3_x86_32`) over the same closed vocabulary.

    Scale shape (the 100 TB path): the vocabulary is hashed ONCE on a
    distinct-frame no larger than the domain (≤125 rows here; ≤ a few
    M for a real tag vocabulary), then broadcast back onto the fact
    table — the corpus itself never runs Python, never explodes the
    1024-slot vector, and aggregates map-side on a bounded key."""
    from pyspark.ml.functions import vector_to_array

    from demy_spark.features import hashed_tf

    docs = _t(spark, sf_dir)["documents"]
    toks = docs.select(
        F.explode(
            F.array(
                F.col("lang"),
                F.col("source"),
                F.concat(F.col("lang"), F.lit("_"), F.col("source")),
            )
        ).alias("term")
    ).where(F.col("term").isNotNull())
    vocab = toks.distinct().withColumn("arr", F.array("term"))
    lut = hashed_tf(vocab, "arr", "vec", _Q144_BUCKETS).select(
        "term",
        (F.array_position(vector_to_array("vec"), F.lit(1.0)) - 1)
        .cast("long")
        .alias("bucket"),
    )
    return (
        toks.join(F.broadcast(lut), "term")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.countDistinct("term").cast("long").alias("n_terms"),
        )
    )


def _q145_oracle() -> str:
    """Literal expected archive-crawl results, computed independently
    of the crawler: spool names are hand-written from the documented
    naming contract (``_crawl_dest`` prefix rewrite + archive-member
    flattening), member bytes come from direct stdlib
    zipfile/tarfile/gzip/bz2 reads of the fixture — the crawler's BFS,
    archive branches, bomb cap and spool code never touch this side.
    Lazy (callable) so importing the module never reads fixtures."""
    import bz2 as _bz2
    import gzip as _gzip
    import hashlib as _hl
    import io as _io
    import tarfile as _tarfile
    import zipfile as _zipfile

    site = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "crawl_site"
    )

    def h8(u: str) -> str:
        return _hl.md5(u.encode()).hexdigest()[:8]

    def fx(rel: str) -> bytes:
        with open(os.path.join(site, rel), "rb") as f:
            return f.read()

    rows: list[tuple[str, bytes]] = []
    zdir = f"packs-bundle.zip-{h8('http://site.test/packs/bundle.zip')}"
    with _zipfile.ZipFile(_io.BytesIO(fx("packs/bundle.zip"))) as zf:
        for info in zf.infolist():
            if not info.is_dir():
                rows.append(
                    (f"{zdir}/{info.filename.replace('/', '-')}", zf.read(info))
                )
    rows.append(
        (
            f"packs-log.txt.gz-{h8('http://site.test/packs/log.txt.gz')}",
            _gzip.decompress(fx("packs/log.txt.gz")),
        )
    )
    tdir = f"packs-multi.tar.gz-{h8('http://site.test/packs/multi.tar.gz')}"
    with _tarfile.open(
        fileobj=_io.BytesIO(_gzip.decompress(fx("packs/multi.tar.gz"))), mode="r:"
    ) as tf:
        for m in tf:
            if m.isfile():
                member = tf.extractfile(m)
                assert member is not None
                rows.append((f"{tdir}/{m.name.replace('/', '-')}", member.read()))
    rows.append(
        (
            f"packs-note.bz2-{h8('http://site.test/packs/note.bz2')}",
            _bz2.decompress(fx("packs/note.bz2")),
        )
    )
    # xz branches (r10): single-file .xz and a two-member .tar.xz,
    # oracle side decompressed by direct stdlib lzma/tarfile reads
    import lzma as _lzma

    rows.append(
        (
            f"packs-notes.txt.xz-{h8('http://site.test/packs/notes.txt.xz')}",
            _lzma.decompress(fx("packs/notes.txt.xz")),
        )
    )
    xdir = f"packs-duo.tar.xz-{h8('http://site.test/packs/duo.tar.xz')}"
    with _tarfile.open(
        fileobj=_io.BytesIO(_lzma.decompress(fx("packs/duo.tar.xz"))),
        mode="r:",
    ) as tf:
        for m in tf:
            if m.isfile():
                member = tf.extractfile(m)
                assert member is not None
                rows.append((f"{xdir}/{m.name.replace('/', '-')}", member.read()))
    # the BCJ2 .7z (r10): expected member bytes live as PLAIN files
    # under private/expected_7z/ (robots-disallowed, never crawled),
    # written at fixture-generation time
    # (scripts/gen_crawl_7z_fixture.py) — the 7z/BCJ2 decode path
    # never touches this side of the comparison
    sdir = f"packs-prog.7z-{h8('http://site.test/packs/prog.7z')}"
    for flat in ("tool.exe", "docs-readme.txt"):
        rows.append((f"{sdir}/{flat}", fx(f"private/expected_7z/{flat}")))
    bdir = f"packs-pair.tar.bz2-{h8('http://site.test/packs/pair.tar.bz2')}"
    with _tarfile.open(
        fileobj=_io.BytesIO(_bz2.decompress(fx("packs/pair.tar.bz2"))),
        mode="r:",
    ) as tf:
        for m in tf:
            if m.isfile():
                member = tf.extractfile(m)
                assert member is not None
                rows.append((f"{bdir}/{m.name.replace('/', '-')}", member.read()))
    # zstd branches (r11): single-file .zst and a two-member .tar.zst,
    # oracle side decompressed by a direct pyarrow-codec read of the
    # fixture bytes — the crawler's header-size bomb gate, naming and
    # spool code never touch this side
    import pyarrow as _pa

    def zd(raw: bytes) -> bytes:
        from demy_spark.crawler import zstd_frame_content_size

        out = _pa.Codec("zstd").decompress(raw, zstd_frame_content_size(raw))
        return out if isinstance(out, bytes) else out.to_pybytes()

    rows.append(
        (
            f"packs-report.txt.zst-{h8('http://site.test/packs/report.txt.zst')}",
            zd(fx("packs/report.txt.zst")),
        )
    )
    zsdir = f"packs-trio.tar.zst-{h8('http://site.test/packs/trio.tar.zst')}"
    with _tarfile.open(
        fileobj=_io.BytesIO(zd(fx("packs/trio.tar.zst"))), mode="r:"
    ) as tf:
        for m in tf:
            if m.isfile():
                member = tf.extractfile(m)
                assert member is not None
                rows.append((f"{zsdir}/{m.name.replace('/', '-')}", member.read()))
    vals = [
        f"('{name}', '{_hl.md5(body).hexdigest()}', CAST({len(body)} AS BIGINT))"
        for name, body in sorted(rows)
    ]
    # the bomb decoy: never unpacked — the expected row carries the
    # FETCHED body size and a rejection marker instead of content
    vals.append(
        "('packs/bomb.bz2', 'REJECTED:bomb-cap', "
        f"CAST({len(fx('packs/bomb.bz2'))} AS BIGINT))"
    )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(name, content_md5, n_bytes)"
    )


@register("q145_crawl_archives", _q145_oracle)
def q145_crawl_archives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler archive branches with an oracle (VERDICT r9 task 4;
    reference behavior at net2demy `Execute.scala:292-319`): BFS from
    the fixture site's archives page, downloading a zip (two members,
    one nested — member flattening exercised), a single-file gzip, a
    tar.gz (two members), a single-file bz2, a tar.bz2 (two members),
    (r10) a single-file xz and a tar.xz (two members — the containers
    the reference reads via org.tukaani:xz),
    (r11) a single-file zstd and a tar.zst (two members — pyarrow's
    bundled codec behind the RFC 8878 header-size bomb gate; the
    container modern LLM corpora ship),
    and (r10) a 7z whose single folder is a genuine 4-stream BCJ2
    mixer over LZMA2 sub-coders — decoded by demy_spark.bcj2 under the
    container's CRCs, value-verified against plain expected-member
    copies the crawler never sees (private/ is robots-disallowed) —
    through the in-flight deflate path; every decompressed spool file is value-verified
    (flattened name, md5, size) against an oracle built from direct
    stdlib reads of the fixture bytes. The decompression-bomb cap is
    part of the row set: a 113-byte bz2 decoy declaring 100 MiB must
    REJECT loudly (ValueError), recorded as a marker row the oracle
    carries literally — if the cap ever stopped firing, the real md5
    would surface and the row would mismatch. Driver-side by design
    (SURVEY §2.1); Spark takes over at the spool."""
    import shutil

    from demy_spark.crawler import (
        CrawlConfig,
        download,
        make_file_fetch,
        sync_source,
    )

    site = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "crawl_site"
    )
    fetch = make_file_fetch(site, "http://site.test")
    dest = _layout_scratch(sf_dir, "q145")
    shutil.rmtree(dest, ignore_errors=True)
    cfg = CrawlConfig(
        name="fixture-archives",
        href="http://site.test/archives.html",
        dest=dest,
        type="crawl",
        policy="immutable",
        crawling_filter=r"^http://site\.test/",
        crawling_matching=r"\.(zip|gz|bz2|7z|xz|zst)$",
    )
    sync_source(spark, cfg, fetch=fetch)
    plen = len("file:" + dest + "/")
    spooled = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(dest)
        .select(
            F.expr(f"substring(path, {plen + 1})").alias("name"),
            F.md5("content").alias("content_md5"),
            F.col("length").cast("long").alias("n_bytes"),
        )
    )
    # the bomb decoy is NOT linked from archives.html (a raising
    # download would abort the sync): fetch it directly and record the
    # loud rejection as a row
    bomb_url = "http://site.test/packs/bomb.bz2"
    _, bomb_body = fetch(bomb_url)
    try:
        download(bomb_url, os.path.join(dest, "__bomb__"), fetch=fetch)
        marker = "UNEXPECTED:unpacked"  # cap did not fire -> loud mismatch
    except ValueError as e:
        marker = (
            "REJECTED:bomb-cap"
            if "decompression-bomb" in str(e)
            else f"UNEXPECTED:{e}"
        )
    bomb_df = local_frame(
        spark,
        [("packs/bomb.bz2", marker, len(bomb_body))],
        "name string, content_md5 string, n_bytes long",
    )
    out = spooled.where(~F.col("name").startswith("__bomb__")).unionByName(
        bomb_df
    )
    pq = _layout_scratch(sf_dir, "q145_out")
    out.write.mode("overwrite").parquet(pq)
    return spark.read.parquet(pq)


_Q146_MEDIA = [
    # (media_id, h, w, gray_level, encode kwargs) — solid R=G=B=v
    # images at quality=100: Y=v and Cb=Cr=128 are EXACT integers, the
    # q100 quantisers are 1, so the decoded block is bit-exact v at
    # every pixel whatever the sampling/restart layout. That exactness
    # is what lets the oracle carry constructed literals.
    (1, 8, 8, 0, {}),
    (2, 16, 24, 37, {}),
    (3, 7, 5, 128, {}),
    (4, 31, 47, 200, {"subsample": True}),
    (5, 33, 49, 64, {"subsample": True, "restart_interval": 2}),
    (6, 9, 10, 255, {"grayscale": True}),
]

_Q146_PROG = [
    # (media_id, h, w, gray_level, encode_progressive kwargs) — the
    # same solid-at-q100 exactness theorem holds for progressive
    # encodes (r11): the full scan script refines every coefficient
    # bit back down to Al=0, so the decoded coefficients equal the
    # baseline-quantised ones exactly and px_min = px_max = v.
    (9, 21, 17, 90, {}),
    (10, 9, 10, 200, {"grayscale": True, "dc_al": 2, "ac_al": 2}),
    (11, 33, 49, 64, {"subsample": True, "restart_interval": 2}),
]


def _q146_media_rows():
    """Driver-built media payloads: solid baseline JPEGs, one PNG
    (vendored codec), one arithmetic-marked JPEG that must take the
    marked-fake path, and (r11) solid progressive JPEGs that must
    take the REAL SOF2 decode path."""
    import numpy as np

    from demy_spark.jpeg import encode_jpeg, encode_progressive_jpeg
    from demy_spark.operators.multimodal import encode_png

    rows = []
    for mid, h, w, v, kw in _Q146_MEDIA:
        kw = dict(kw)
        if kw.pop("grayscale", False):
            img = np.full((h, w), v, dtype=np.uint8)
        else:
            img = np.full((h, w, 3), v, dtype=np.uint8)
        rows.append(
            (mid, bytearray(encode_jpeg(img, quality=100, **kw)),
             ("image/jpeg", w, h, 0))
        )
    # PNG through the same operator: 2x2 RGB with known min 0 / max 255
    png = encode_png(bytes([0, 128, 255, 255, 0, 128, 128, 255, 0, 0, 0, 255]), 2, 2, 3)
    rows.append((7, bytearray(png), ("image/png", 2, 2, 0)))
    # arithmetic-marked JPEG: SOF0 -> SOF9, a permanently-unsupported
    # class; sniff_baseline must route it to the deterministic fake
    # with decode_real = false (progressive stopped being the fake
    # probe in r11 — it decodes for real now)
    base = bytes(rows[0][1])
    i = base.index(b"\xff\xc0")
    rows.append(
        (8, bytearray(base[:i] + b"\xff\xc9" + base[i + 2 :]),
         ("image/jpeg", 8, 8, 0))
    )
    for mid, h, w, v, kw in _Q146_PROG:
        kw = dict(kw)
        if kw.pop("grayscale", False):
            img = np.full((h, w), v, dtype=np.uint8)
        else:
            img = np.full((h, w, 3), v, dtype=np.uint8)
        rows.append(
            (mid, bytearray(encode_progressive_jpeg(img, quality=100, **kw)),
             ("image/jpeg", w, h, 0))
        )
    return rows


def _q146_oracle() -> str:
    """Constructed literals — every value comes from the CONSTRUCTION
    of the media set (gray level v, dims, the PNG byte pattern), never
    from running the decoder: solid q100 JPEGs (baseline AND
    progressive — the full scan script refines to Al=0) decode
    bit-exactly to v, so px_min = px_max = v; the arithmetic-marked
    row is fake-decoded with NULL pixel stats."""
    vals = [
        f"(CAST({mid} AS BIGINT), {h}, {w}, 3, true, {v}, {v})"
        for mid, h, w, v, _ in _Q146_MEDIA
    ]
    vals.append("(CAST(7 AS BIGINT), 2, 2, 3, true, 0, 255)")
    vals.append(
        "(CAST(8 AS BIGINT), 8, 8, 3, false, "
        "CAST(NULL AS INTEGER), CAST(NULL AS INTEGER))"
    )
    vals.extend(
        f"(CAST({mid} AS BIGINT), {h}, {w}, 3, true, {v}, {v})"
        for mid, h, w, v, _ in _Q146_PROG
    )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(media_id, height, width, channels, decode_real, px_min, px_max)"
    )


@register("q146_jpeg_decode", _q146_oracle)
def q146_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG decode value-verified end-to-end (r10 baseline, r11
    progressive — the pure-Python T.81 codec behind multimodal's
    dependency-free path; reference treats media as binary + decode
    UDFs, SURVEY §2 LLM extensions). Solid-gray JPEGs across even/odd
    dims, 4:2:0 subsampling, restart intervals, a 1-channel encode,
    and (r11) SOF2 progressive encodes — spectral selection +
    successive approximation, incl. a 2-bit approximation script and
    an in-scan restart interval — are decoded by the REAL
    ``decode_image`` operator (Arrow ``mapInPandas``); because a
    solid image at quality 100 decodes bit-exactly, the per-media
    pixel min/max must equal the constructed gray level — any
    Huffman/dequant/IDCT/upsample/refinement defect shifts at least
    one pixel and fails the row. A PNG rides the same operator
    (vendored codec) and an arithmetic-marked JPEG must take the
    machine-visible fake path (decode_real = false, stats NULL).
    Media generation is driver-side by design; Spark decodes
    distributed. The decoder is pinned to the pure-Python path
    explicitly (r10 review): under Pillow auto-detection the
    arithmetic-marked row would raise in libjpeg and the realness
    column would flip, so the oracle literals are only the
    _auto_decode contract — which is exactly the path under test."""
    from demy_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _auto_decode,
        decode_image,
    )

    media = local_frame(spark, _q146_media_rows(), MEDIA_SCHEMA)
    decoded = decode_image(media, decoder=_auto_decode)
    px255 = lambda f: F.round(f(F.col("pixels")) * 255.0, 0).cast("int")  # noqa: E731
    return decoded.select(
        "media_id",
        "height",
        "width",
        "channels",
        "decode_real",
        F.when(F.col("decode_real"), px255(F.array_min)).alias("px_min"),
        F.when(F.col("decode_real"), px255(F.array_max)).alias("px_max"),
    )


_Q147_AUDIO = [
    # (media_id, sample_rate, n_channels, width_bytes, amplitude_num,
    #  amplitude_den_pow2, n_frames) — square waves (odd media) and DC
    #  signals (even media) whose full-scale-normalised RMS and peak
    #  are EXACTLY amplitude/2^den: every sample has |x| = amp, so
    #  rms = peak = amp exactly in binary floating point.
    (1, 16000, 1, 2, 8192, 15, 16000),   # 0.25, 1s mono 16-bit
    (2, 8000, 1, 1, 32, 7, 800),         # 0.25, 100ms 8-bit
    (3, 44100, 1, 3, 1 << 21, 23, 441),  # 0.25, 10ms 24-bit
    (4, 48000, 2, 4, 1 << 29, 31, 96),   # 0.25, 2ms stereo 32-bit
    (5, 22050, 1, 2, 16384, 15, 2205),   # 0.5, 100ms
    (6, 11025, 1, 2, 0, 15, 512),        # silence: rms = peak = 0
]


_Q147_EXT = [
    # (media_id, fmt, rate, nch, n_frames, level_num, level_den_pow2,
    #  shape) — the r11 manual-RIFF-parser formats (stdlib wave
    #  rejects all four): IEEE float32, extensible-wrapped 24-bit PCM,
    #  G.711 mu-law (byte 0x00 decodes to exactly -32124 by the
    #  published expansion) and A-law (0x55/0xD5 = -8/+8). Every
    #  level is a dyadic rational, so rms/peak/min/max stay exact.
    (8, "float32", 8000, 1, 400, 1, 2, "square"),
    (9, "ext-pcm24", 48000, 2, 96, 1, 2, "square"),
    (10, "ulaw", 8000, 1, 800, 32124, 15, "dc-neg"),
    (11, "alaw", 16000, 1, 256, 8, 15, "square"),
    # AIFF/AIFC (r11 — the other codec-free audio container; 8-bit is
    # SIGNED there, unlike WAV): big-endian 16-bit square, and 'sowt'
    # little-endian signed-8-bit DC
    (12, "aiff16", 22050, 1, 441, 1, 2, "square"),
    (13, "aifc-sowt8", 11025, 1, 512, 1, 2, "dc-neg"),
]


def _q147_media_rows():
    from demy_spark.operators.multimodal import encode_wav, encode_wav_ext

    rows = []
    for mid, rate, nch, width, amp, _pw, nframes in _Q147_AUDIO:
        total = nframes * nch
        if mid % 2 == 0:  # DC signal
            samples = [amp] * total
        else:  # square wave
            samples = [amp if i % 2 == 0 else -amp for i in range(total)]
        rows.append(
            (mid, bytearray(encode_wav(samples, rate, nch, width)),
             ("audio/wav", 0, 0, 0))
        )
    # a compressed-format payload: must take the NULL/fake row
    rows.append((7, bytearray(b"ID3\x04\x00" + b"\x00" * 64), ("audio/mpeg", 0, 0, 0)))
    from demy_spark.operators.multimodal import encode_aiff

    for mid, fmt, rate, nch, nframes, _num, _pw, shape in _Q147_EXT:
        total = nframes * nch
        if fmt == "float32":
            samples = [0.25 if i % 2 == 0 else -0.25 for i in range(total)]
        elif fmt == "ext-pcm24":
            samples = [(1 << 21) if i % 2 == 0 else -(1 << 21)
                       for i in range(total)]
        elif fmt == "ulaw":
            samples = bytes([0x00] * total)  # decodes to -32124 each
        elif fmt == "alaw":  # alaw square: 0x55 = -8, 0xD5 = +8
            samples = bytes([0x55 if i % 2 == 0 else 0xD5
                             for i in range(total)])
        elif fmt == "aiff16":
            payload = encode_aiff(
                [8192 if i % 2 == 0 else -8192 for i in range(total)],
                rate, nch, 2,
            )
            rows.append((mid, bytearray(payload), ("audio/aiff", 0, 0, 0)))
            continue
        else:  # aifc-sowt8: signed 8-bit DC at -32 (= -0.25 exactly)
            payload = encode_aiff([-32] * total, rate, nch, 1,
                                  compression=b"sowt")
            rows.append((mid, bytearray(payload), ("audio/aiff", 0, 0, 0)))
            continue
        rows.append(
            (mid, bytearray(encode_wav_ext(samples, rate, nch, fmt=fmt)),
             ("audio/wav", 0, 0, 0))
        )
    return rows


def _q147_oracle() -> str:
    """Constructed literals: every feature follows from the synthesis
    parameters (square/DC at amplitude amp over full scale 2^k ->
    rms = peak = amp/2^k exactly; duration = 1000*frames//rate). The
    wave-parsing path under test never touches this side."""
    vals = []
    for mid, rate, nch, width, amp, pw, nframes in _Q147_AUDIO:
        level = amp / (1 << pw)
        vals.append(
            f"(CAST({mid} AS BIGINT), {rate}, {nch}, "
            f"CAST({nframes} AS BIGINT), CAST({nframes * 1000 // rate} AS BIGINT), "
            f"CAST({level!r} AS DOUBLE), CAST({level!r} AS DOUBLE), true)"
        )
    vals.append(
        "(CAST(7 AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), "
        "CAST(NULL AS DOUBLE), false)"
    )
    # r11 manual-parser rows: |x| is constant per fixture, so rms =
    # peak = level exactly (dyadic levels square and sqrt exactly)
    for mid, _fmt, rate, nch, nframes, num, pw, _shape in _Q147_EXT:
        level = num / (1 << pw)
        vals.append(
            f"(CAST({mid} AS BIGINT), {rate}, {nch}, "
            f"CAST({nframes} AS BIGINT), CAST({nframes * 1000 // rate} AS BIGINT), "
            f"CAST({level!r} AS DOUBLE), CAST({level!r} AS DOUBLE), true)"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(media_id, "
        "sample_rate, n_channels, n_samples, duration_ms, rms, peak, "
        "decode_real)"
    )


@register("q147_audio_features", _q147_oracle)
def q147_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV audio features value-verified end-to-end (r10 —
    multimodal extension; the reference treats media as binary +
    decode UDFs). Square-wave and DC fixtures across 8/16/24/32-bit
    PCM widths and mono/stereo run through the REAL stdlib-``wave``
    extractor, and (r11) the manual-parser formats stdlib wave
    rejects — IEEE float32, WAVE_FORMAT_EXTENSIBLE-wrapped 24-bit
    PCM, G.711 mu-law/A-law (the telephony speech-corpus encodings,
    expansion audioop-cross-checked), and AIFF/AIFC big- and
    little-endian PCM (stdlib-aifc-cross-checked) — join the same
    operator (Arrow ``mapInPandas``); every amplitude is a dyadic
    rational so RMS and peak are exactly representable doubles the
    oracle carries as constructed literals. A compressed (mp3-marked)
    payload must land on the honest NULL row with ``decode_real =
    false``. Media generation is driver-side by design; Spark
    extracts distributed."""
    from demy_spark.operators.multimodal import MEDIA_SCHEMA, extract_audio_features

    media = local_frame(spark, _q147_media_rows(), MEDIA_SCHEMA)
    return extract_audio_features(media)


_Q148_VIDEO = [
    # (media_id, brand, timescale, duration_units, [(w, h)]) — mvhd
    # duration_ms = 1000*duration//timescale exactly by construction
    (1, "isom", 1000, 7500, [(640, 360)]),
    (2, "mp42", 90000, 2700000, [(1920, 1080), (0, 0)]),  # audio trak 0x0
    (3, "qt  ", 600, 3601, [(1280, 720)]),
    (4, "isom", 1000, 0, []),  # moov with no tracks
]


def _q148_media_rows():
    import struct as _struct

    def box(t: bytes, body: bytes) -> bytes:
        return _struct.pack(">I", len(body) + 8) + t + body

    rows = []
    for mid, brand, ts, dur, tracks in _Q148_VIDEO:
        ftyp = box(b"ftyp", brand.encode("latin-1") + _struct.pack(">I", 0) + b"isom")
        mvhd = box(
            b"mvhd",
            bytes(4) + _struct.pack(">II", 0, 0)
            + _struct.pack(">II", ts, dur) + bytes(80),
        )
        traks = b"".join(
            box(b"trak", box(b"tkhd", bytes(4) + bytes(72)
                             + _struct.pack(">II", w << 16, h << 16)))
            for w, h in tracks
        )
        payload = ftyp + box(b"moov", mvhd + traks)
        rows.append((mid, bytearray(payload), ("video/mp4", 0, 0, 0)))
    # an unsupported container (FLV): honest NULL row (r11 — AVI
    # stopped being the NULL probe when its metadata went real)
    rows.append((5, bytearray(b"FLV\x01\x05\x00\x00\x00\x09"),
                 ("video/x-flv", 0, 0, 0)))
    # r11: the other two dominant crawled containers, parsed for REAL
    # (pure struct walks — _avi_metadata / _ebml_metadata); literals
    # below come from these construction parameters
    from demy_spark.operators.multimodal import encode_avi_stub, encode_mkv_stub

    for mid, payload, mime in [
        (6, encode_avi_stub(*_Q148_AVI[1:]), "video/avi"),
        (7, encode_mkv_stub("matroska", *_Q148_MKV[1:]), "video/x-matroska"),
        (8, encode_mkv_stub("webm", *_Q148_WEBM[1:], timestamp_scale=500000,
                            unknown_segment_size=True), "video/webm"),
    ]:
        rows.append((mid, bytearray(payload), (mime, 0, 0, 0)))
    return rows


# (media_id, width/height/frames/usec_pf/streams) and (media_id,
# duration, w, h, n_tracks) construction parameters shared by the
# fixture builders above and the oracle literals below
_Q148_AVI = (6, 640, 360, 250, 40000, 2)  # 250 x 40ms = 10000 ms
_Q148_MKV = (7, 12345.0, 1280, 720, 2)  # default scale: ms units
_Q148_WEBM = (8, 5000.0, 1920, 1080, 1)  # scale 500us: 2500 ms


def _q148_oracle() -> str:
    """Constructed literals from the box-synthesis parameters —
    duration_ms = 1000*duration//timescale, dims = the largest tkhd
    pair, track count = emitted traks. The box parser under test
    never touches this side."""
    vals = []
    for mid, brand, ts, dur, tracks in _Q148_VIDEO:
        w, h = max(tracks) if tracks else (0, 0)
        vals.append(
            f"(CAST({mid} AS BIGINT), '{brand}', "
            f"CAST({dur * 1000 // ts} AS BIGINT), {w}, {h}, {len(tracks)}, true)"
        )
    vals.append(
        "(CAST(5 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), "
        "CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
        "CAST(NULL AS INTEGER), false)"
    )
    # r11 rows: AVI duration = frames x usec_pf / 1000; Matroska
    # duration = value x scale / 1e6 (default scale 1e6 ns = ms
    # units; the webm row pins a non-default 500us scale AND the
    # unknown-segment-size streamed layout)
    _, w, h, frames, usec, streams = _Q148_AVI
    vals.append(
        f"(CAST(6 AS BIGINT), 'AVI ', CAST({frames * usec // 1000} AS "
        f"BIGINT), {w}, {h}, {streams}, true)"
    )
    _, dur, w, h, nt = _Q148_MKV
    vals.append(
        f"(CAST(7 AS BIGINT), 'matroska', CAST({int(dur)} AS BIGINT), "
        f"{w}, {h}, {nt}, true)"
    )
    _, dur, w, h, nt = _Q148_WEBM
    vals.append(
        f"(CAST(8 AS BIGINT), 'webm', CAST({int(dur * 500000 / 1e6)} AS "
        f"BIGINT), {w}, {h}, {nt}, true)"
    )
    return (
        "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(media_id, "
        "brand, duration_ms, width, height, n_tracks, parse_real)"
    )


def _q149_oracle() -> str:
    """Constructed literals from the q147 synthesis parameters: a DC
    signal decodes to samples all exactly +level (min = max = level),
    a square wave to exactly ±level; power-of-two levels are exact in
    float32 AND float64, so the min/max compare carries no rounding.
    The fake (mp3) row is decode_real = false with NULL stats."""
    vals = []
    for mid, rate, nch, width, amp, pw, nframes in _Q147_AUDIO:
        level = amp / (1 << pw)
        smin = level if mid % 2 == 0 else -level  # DC vs square wave
        vals.append(
            f"(CAST({mid} AS BIGINT), {rate}, {nch}, "
            f"CAST({nframes} AS BIGINT), CAST({smin!r} AS DOUBLE), "
            f"CAST({level!r} AS DOUBLE), true)"
        )
    vals.append(
        "(CAST(7 AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
        "CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
        "false)"
    )
    # r11 manual-parser rows (see _Q147_EXT): square fixtures swing
    # exactly +/-level, the mu-law DC fixture sits at exactly -level
    for mid, _fmt, rate, nch, nframes, num, pw, shape in _Q147_EXT:
        level = num / (1 << pw)
        smin = -level
        smax = -level if shape == "dc-neg" else level
        vals.append(
            f"(CAST({mid} AS BIGINT), {rate}, {nch}, "
            f"CAST({nframes} AS BIGINT), CAST({smin!r} AS DOUBLE), "
            f"CAST({smax!r} AS DOUBLE), true)"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(media_id, "
        "sample_rate, n_channels, n_samples, samp_min, samp_max, "
        "decode_real)"
    )


@register("q149_audio_decode", _q149_oracle)
def q149_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform-tensor decode value-verified end-to-end (r10 —
    ``decode_audio``, the audio twin of ``decode_image``): the q147
    media set — incl. the r11 float/extensible/G.711 fixtures —
    decodes to interleaved float samples whose min/max must equal the
    constructed ±level exactly (dyadic amplitudes are exact in every
    float width); the mp3-marked payload takes the deterministic fake
    with ``decode_real = false`` and NULL stats. Stats are nulled via
    decode_real so the oracle never depends on the fake keystream's
    internals."""
    from demy_spark.operators.multimodal import MEDIA_SCHEMA, decode_audio

    media = local_frame(spark, _q147_media_rows(), MEDIA_SCHEMA)
    decoded = decode_audio(media)
    stat = lambda f, col: F.when(  # noqa: E731
        F.col("decode_real"), f(F.col(col)).cast("double")
    )
    return decoded.select(
        "media_id",
        F.when(F.col("decode_real"), F.col("sample_rate")).alias("sample_rate"),
        F.when(F.col("decode_real"), F.col("n_channels")).alias("n_channels"),
        F.when(F.col("decode_real"), F.col("n_samples")).alias("n_samples"),
        stat(F.array_min, "samples").alias("samp_min"),
        stat(F.array_max, "samples").alias("samp_max"),
        "decode_real",
    )


@register("q148_video_metadata", _q148_oracle)
def q148_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container metadata value-verified end-to-end (r10 BMFF,
    r11 AVI + Matroska/WebM): hand-constructed ftyp/moov/mvhd/trak/
    tkhd boxes across brands, timescales and track layouts, an AVI
    'avih' main header, and EBML fixtures (default AND non-default
    TimestampScale, sized AND unknown-size/streamed Segment) run
    through the REAL pure struct-walking parsers (no codec library);
    the oracle carries the construction parameters as literals. An
    unsupported container (FLV) must land on the honest NULL row with
    ``parse_real = false`` — the metadata a curation pipeline filters
    on (duration, resolution, track count) is real for the three
    dominant crawled containers even where frame decode stays
    stubbed."""
    from demy_spark.operators.multimodal import MEDIA_SCHEMA, extract_video_metadata

    media = local_frame(spark, _q148_media_rows(), MEDIA_SCHEMA)
    return extract_video_metadata(media)


_Q150_FRAMES = [bytes([65 + i]) * (10 + i) for i in range(6)]  # A..F blobs
_Q150_SYNC = (1, 5)  # 1-based keyframe sample numbers (stss)


def _q150_mp4() -> bytes:
    """Deterministic one-video-trak BMFF: 6 encoded samples at
    timescale 1000 / delta 500 (2 fps), split 4+2 across two chunks
    so the stsc/stco map is non-trivial, stss marking samples 1 and 5
    as keyframes. Two-pass build: offsets depend on header size."""
    import struct as _struct

    def b(t: bytes, body: bytes) -> bytes:
        return _struct.pack(">I", len(body) + 8) + t + body

    def fb(t: bytes, body: bytes) -> bytes:
        return b(t, bytes(4) + body)

    frames = _Q150_FRAMES
    stsd = fb(b"stsd", _struct.pack(">I", 1) + b(b"avc1", bytes(70)))
    stts = fb(b"stts", _struct.pack(">III", 1, 6, 500))
    stsc = fb(
        b"stsc",
        _struct.pack(">I", 2)
        + _struct.pack(">III", 1, 4, 1)
        + _struct.pack(">III", 2, 2, 1),
    )
    stsz = fb(
        b"stsz",
        _struct.pack(">II", 0, 6)
        + b"".join(_struct.pack(">I", len(f)) for f in frames),
    )
    stss = fb(b"stss", _struct.pack(">I", 2) + _struct.pack(">II", *_Q150_SYNC))

    def build(off1: int, off2: int) -> tuple[bytes, int]:
        stco = fb(b"stco", _struct.pack(">I", 2) + _struct.pack(">II", off1, off2))
        stbl = b(b"stbl", stsd + stts + stsc + stsz + stco + stss)
        hdlr = fb(b"hdlr", bytes(4) + b"vide" + bytes(12))
        mdhd = fb(b"mdhd", _struct.pack(">II", 0, 0)
                  + _struct.pack(">II", 1000, 3000) + bytes(4))
        mdia = b(b"mdia", mdhd + hdlr + b(b"minf", stbl))
        tkhd = fb(b"tkhd", bytes(72) + _struct.pack(">II", 320 << 16, 240 << 16))
        moov = b(
            b"moov",
            fb(b"mvhd", _struct.pack(">II", 0, 0)
               + _struct.pack(">II", 1000, 3000) + bytes(76))
            + b(b"trak", tkhd + mdia),
        )
        head = b(b"ftyp", b"isom" + bytes(4)) + moov
        return head + b(b"mdat", b"".join(frames)), len(head) + 8

    _, data_start = build(0, 0)
    off2 = data_start + sum(len(f) for f in frames[:4])
    payload, check = build(data_start, off2)
    assert check == data_start
    return payload


_Q150F_FRAMES = [bytes([71 + i]) * (8 + i) for i in range(6)]  # G..L blobs


def _q150_fmp4() -> bytes:
    """Deterministic fragmented-MP4 twin of :func:`_q150_mp4` (r11 —
    the moof/traf/trun shape DASH/HLS captures produce): moov carries
    only mvex/trex defaults (duration 500 at timescale 1000, non-sync
    default sample flags) over an empty stbl; two moof+mdat pairs
    carry 3 samples each, with keyframes marked two different ways —
    sample 1 via per-sample trun flags, sample 4 via
    first-sample-flags — and tfdt resetting the decode time per
    fragment. default-base-is-moof addressing; the trun data offset
    is patched to the mdat payload after the moof size is known."""
    import struct as _struct

    def b(t: bytes, body: bytes) -> bytes:
        return _struct.pack(">I", len(body) + 8) + t + body

    def fb(t: bytes, body: bytes) -> bytes:
        return b(t, bytes(4) + body)

    frames = _Q150F_FRAMES
    stbl = b(
        b"stbl",
        fb(b"stsz", _struct.pack(">II", 0, 0))
        + fb(b"stts", _struct.pack(">I", 0))
        + fb(b"stsc", _struct.pack(">I", 0))
        + fb(b"stco", _struct.pack(">I", 0)),
    )
    hdlr = fb(b"hdlr", bytes(4) + b"vide" + bytes(12))
    mdhd = fb(b"mdhd", _struct.pack(">II", 0, 0)
              + _struct.pack(">II", 1000, 0) + bytes(4))
    mdia = b(b"mdia", mdhd + hdlr + b(b"minf", stbl))
    tkhd = fb(b"tkhd", _struct.pack(">II", 0, 0) + _struct.pack(">I", 1)
              + bytes(60) + _struct.pack(">II", 320 << 16, 240 << 16))
    trex = fb(b"trex", _struct.pack(">IIIII", 1, 1, 500, 0, 0x10000))
    moov = b(
        b"moov",
        fb(b"mvhd", _struct.pack(">II", 0, 0)
           + _struct.pack(">II", 1000, 3000) + bytes(76))
        + b(b"trak", tkhd + mdia)
        + b(b"mvex", trex),
    )
    out = bytearray(b(b"ftyp", b"isom" + bytes(4)) + moov)
    for seq, (fr, bt, key_mode) in enumerate(
        [(frames[:3], 0, "per-sample"), (frames[3:], 1500, "first-flags")], 1
    ):
        mfhd = fb(b"mfhd", _struct.pack(">I", seq))
        tfdt = fb(b"tfdt", _struct.pack(">I", bt))
        if key_mode == "per-sample":
            tfl = 0x01 | 0x200 | 0x400
            rows = b"".join(
                _struct.pack(">II", len(f), 0 if i == 0 else 0x10000)
                for i, f in enumerate(fr)
            )
            ff = b""
        else:
            tfl = 0x01 | 0x200 | 0x04
            ff = _struct.pack(">I", 0)
            rows = b"".join(_struct.pack(">I", len(f)) for f in fr)
        tfhd = b(b"tfhd", bytes([0]) + (0x20000).to_bytes(3, "big")
                 + _struct.pack(">I", 1))
        trun = b(b"trun", bytes([0]) + tfl.to_bytes(3, "big")
                 + _struct.pack(">I", len(fr)) + b"\x00" * 4 + ff + rows)
        traf = b(b"traf", tfhd + tfdt + trun)
        moof = bytearray(b(b"moof", mfhd + traf))
        _struct.pack_into(
            ">i", moof, len(moof) - len(rows) - len(ff) - 4, len(moof) + 8
        )
        out += bytes(moof) + b(b"mdat", b"".join(fr))
    return bytes(out)


def _q150_oracle() -> str:
    """Constructed literals: sampling at 1000 ms picks the last
    sample at-or-before each target (samples tick at 500 ms), so
    'all' mode picks samples 0/2/4 and 'key' mode (sync = samples
    1 and 5, i.e. indexes 0 and 4) picks 0/0/4; md5/size come from
    the _Q150_FRAMES construction, never from the extractor. The AVI
    decoy contributes frame_real = false rows with NULL stats. The
    fragmented twin (media 3, r11) keyframes samples 1 and 4, so its
    'key' picks are indexes 0/0/3 at ts 0/0/1500."""
    import hashlib as _hl

    f = _Q150_FRAMES
    rows = []
    for mode, picks in (("all", [0, 2, 4]), ("key", [0, 0, 4])):
        for k, s in enumerate(picks):
            rows.append(
                f"('{mode}', CAST(1 AS BIGINT), {k}, CAST({s * 500} AS BIGINT), "
                f"'{_hl.md5(f[s]).hexdigest()}', CAST({len(f[s])} AS BIGINT), true)"
            )
    for k in (0, 1):  # AVI decoy: meta duration 2500 ms -> 2 fake rows
        rows.append(
            f"('all', CAST(2 AS BIGINT), {k}, CAST({k * 1000} AS BIGINT), "
            "CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), false)"
        )
    g = _Q150F_FRAMES
    for mode, picks in (("all", [0, 2, 4]), ("key", [0, 0, 3])):
        for k, s in enumerate(picks):
            rows.append(
                f"('{mode}', CAST(3 AS BIGINT), {k}, CAST({s * 500} AS BIGINT), "
                f"'{_hl.md5(g[s]).hexdigest()}', CAST({len(g[s])} AS BIGINT), true)"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(mode, media_id, "
        "frame_idx, ts_ms, frame_md5, n_bytes, frame_real)"
    )


@register("q150_video_sampling", _q150_oracle)
def q150_video_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded-frame sampling from real MP4 sample tables (r10 —
    ``sample_video_frames``): the stbl walk resolves every sample's
    timestamp/offset/size and each 1000 ms target yields the encoded
    access-unit BYTES (what a downstream GPU decoder consumes), in
    both all-samples and keyframes-only (stss) modes; md5 and size
    are value-verified against the construction literals. r11 adds
    the fragmented-MP4 twin (moof/traf/trun with trex defaults, tfdt
    decode times, keyframes via per-sample AND first-sample flags —
    the DASH/HLS capture shape) through the same operator and the
    same literal discipline. A non-BMFF payload keeps the
    clearly-marked deterministic chunker with ``frame_real = false``
    and NULL stats."""
    from demy_spark.operators.multimodal import MEDIA_SCHEMA, sample_video_frames

    media = local_frame(
        spark,
        [
            (1, bytearray(_q150_mp4()), ("video/mp4", 320, 240, 3000)),
            (2, bytearray(b"RIFFxxxxAVI LIST not a bmff"),
             ("video/avi", 0, 0, 2500)),
            # r11: the fragmented (moof/trun) twin — DASH/HLS shape
            (3, bytearray(_q150_fmp4()), ("video/mp4", 320, 240, 3000)),
        ],
        MEDIA_SCHEMA,
    )
    all_mode = sample_video_frames(media, every_ms=1000).withColumn(
        "mode", F.lit("all")
    )
    key_mode = sample_video_frames(
        media.where(F.col("media_id").isin(1, 3)),
        every_ms=1000,
        keyframes_only=True,
    ).withColumn("mode", F.lit("key"))
    stat = lambda col: F.when(F.col("frame_real"), col)  # noqa: E731
    return all_mode.unionByName(key_mode).select(
        "mode",
        "media_id",
        "frame_idx",
        "ts_ms",
        stat(F.md5("frame_bytes")).alias("frame_md5"),
        stat(F.length("frame_bytes").cast("long")).alias("n_bytes"),
        "frame_real",
    )


@register(
    "q151_quantile_sketch",
    """
    WITH v AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 4 AS shard
      FROM lineitem),
    ps AS (SELECT unnest([1, 10, 25, 50, 75, 90, 99, 100]) AS p),
    -- mode 'exact': the true discrete percentile from cumulative
    -- distinct-value counts (verifies the LOSSLESS summary's answer)
    d AS (SELECT l_returnflag, cents, count(*) AS c FROM v GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, cents,
             sum(c) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cw,
             sum(c) OVER (PARTITION BY l_returnflag) AS n
      FROM d),
    exact AS (
      SELECT 'exact' AS mode, l_returnflag, CAST(p AS INT) AS p,
             min(cents) AS q_cents, CAST(min(n) AS BIGINT) AS n_rows
      FROM cum, ps
      WHERE cw >= (CAST(p AS BIGINT) * n + 99) // 100
      GROUP BY 1, 2, 3),
    -- mode 'sketch64': replay the COMPRESSED build row-for-row —
    -- md5 shard, per-shard sorted ranks, stride keep (+ the shard
    -- max), gap re-weighting, merged cumulative thresholds
    r AS (
      SELECT l_returnflag AS g, shard, cents,
             row_number() OVER (PARTITION BY l_returnflag, shard
                                ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY l_returnflag, shard) AS cnt
      FROM v),
    kept AS (
      SELECT g, shard, cents, rn
      FROM r WHERE rn % ((cnt + 63) // 64) = 0 OR rn = cnt),
    w AS (
      SELECT g, cents,
             rn - coalesce(lag(rn) OVER (PARTITION BY g, shard
                                         ORDER BY rn), 0) AS wt
      FROM kept),
    m AS (SELECT g, cents, sum(wt) AS wt FROM w GROUP BY 1, 2),
    scum AS (
      SELECT g, cents,
             sum(wt) OVER (PARTITION BY g ORDER BY cents) AS cw,
             sum(wt) OVER (PARTITION BY g) AS n
      FROM m),
    sk AS (
      SELECT 'sketch64' AS mode, g AS l_returnflag, CAST(p AS INT) AS p,
             min(cents) AS q_cents, CAST(min(n) AS BIGINT) AS n_rows
      FROM scum, ps
      WHERE cw >= (CAST(p AS BIGINT) * n + 99) // 100
      GROUP BY 1, 2, 3)
    SELECT * FROM exact UNION ALL SELECT * FROM sk
    """,
)
def q151_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price percentiles via the MERGEABLE quantile
    summary (operators/sketches.quantile_sketch_* — r12, the 100 TB
    profiling staple beside HLL/CMS/histogram/Bloom), verified on BOTH
    of its regimes in one result:

    - mode 'exact': capacity = count(lineitem) over 16 xxhash64
      shards — capacity is DERIVED from the data (one count job), so
      every (group, shard) fits BY CONSTRUCTION at any scale factor
      (ADVICE r12: the former fixed 8192 was lossless only below
      ~sf0.03 — above that the mode named 'exact' silently
      compressed). The summary is LOSSLESS and the sketch's answer IS
      the discrete percentile, which the oracle recomputes from
      cumulative distinct-value counts. All-integer thresholds
      (ceil(p*n/100) as (p*n+99) DIV 100 — no float ranks).
    - mode 'sketch64': capacity 64 over 4 md5 shards — compression
      HEAVILY engaged (stride ~80 per shard at sf0.01), and the md5
      shard hash lets the oracle replay the entire compressed build
      row-for-row (sorted per-shard ranks, stride keep + shard max,
      gap re-weighting, merged cumulative thresholds) — the q58
      pattern of an approximate operator under an exact bit-level
      check, here for the compressed code path the unit tests
      otherwise bound only statistically.

    Both modes conserve mass exactly, so n_rows agrees across them —
    an invariant the oracle reproduces too. At 100 TB the identical
    plan compresses each shard to <= capacity+1 weighted rows (rank
    error < n/capacity) and the query windows run on the
    constant-size summary, never on data.

    No reference counterpart (the reference's metrics are exact —
    mllib tuning/BinaryOptimalEvaluator.scala:35-224); LLM-pipeline
    extension. One data shuffle by (group, shard) per mode; the
    row-unique (l_orderkey, l_linenumber) shard key spreads hot
    groups evenly."""
    from demy_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_query,
    )

    t = _t(spark, sf_dir)
    v = t["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ps = [1, 10, 25, 50, 75, 90, 99, 100]

    def run(mode: str, **kw) -> DataFrame:
        sk = quantile_sketch_build(
            v, "cents", ["l_returnflag"],
            shard_key=["l_orderkey", "l_linenumber"], **kw
        )
        out = quantile_sketch_query(sk, ps, ["l_returnflag"])
        return out.select(
            F.lit(mode).alias("mode"),
            "l_returnflag",
            F.col("p").cast("int").alias("p"),
            F.col("q_value").alias("q_cents"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )

    # 'exact' capacity derived from the data: any (group, shard) holds
    # at most count(v) rows, so the build never compresses — lossless
    # at ANY verification scale factor, not just sf<=0.01 (ADVICE r12).
    lossless_cap = max(int(v.count()), 1)
    return run("exact", shards=16, capacity=lossless_cap).unionByName(
        run("sketch64", shards=4, capacity=64, shard_hash="md5")
    )


_Q152_SCALE = 10**12
_Q152_ITERS = 5


def _q152_oracle() -> str:
    """Unrolled exact replay of the integer fixed-point PageRank: per
    mode, one CTE chain of (edges, out-totals, transition, dangling
    set, r0) followed by _Q152_ITERS blocks of (mass_i, contrib_i,
    r_{i+1}) — every quantity BIGINT, every division floor division,
    so the replay is hash-exact (no float ranks anywhere). Generated
    by loop because the iteration blocks are mechanically identical;
    the recurrence is documented on operators/graph.pagerank."""
    s, k = _Q152_SCALE, _Q152_ITERS
    chains = []
    for mode, pred in (("full", "true"), ("dag", "src < dst")):
        m = mode
        chains.append(
            f"""e_{m} AS (SELECT src, dst, w FROM e WHERE {pred}),
    tw_{m} AS (SELECT src, CAST(sum(w) AS BIGINT) AS tot
               FROM e_{m} GROUP BY src),
    tr_{m} AS (SELECT e.src, e.dst, e.w, tw.tot
               FROM e_{m} e JOIN tw_{m} tw USING (src)),
    dg_{m} AS (SELECT v FROM n0
               WHERE v NOT IN (SELECT src FROM e_{m})),
    r0_{m} AS (SELECT v, {s} // (SELECT n FROM nn) AS r FROM n0)"""
        )
        for i in range(k):
            chains.append(
                f"""m{i}_{m} AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS m
               FROM r{i}_{m} WHERE v IN (SELECT v FROM dg_{m})),
    c{i}_{m} AS (SELECT tr.dst AS v,
                        CAST(sum((r.r * tr.w) // tr.tot) AS BIGINT) AS c
                 FROM tr_{m} tr JOIN r{i}_{m} r ON tr.src = r.v
                 GROUP BY tr.dst),
    r{i + 1}_{m} AS (SELECT b.v,
          (15 * {s}) // (100 * (SELECT n FROM nn))
        + (85 * ((SELECT m FROM m{i}_{m}) // (SELECT n FROM nn))) // 100
        + (85 * coalesce(c.c, 0)) // 100 AS r
        FROM n0 b LEFT JOIN c{i}_{m} c USING (v))"""
            )
    body = ",\n    ".join(chains)
    return f"""
    WITH su AS (
      SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'),
    e AS (
      SELECT a.s AS src, b.s AS dst, CAST(count(*) AS BIGINT) AS w
      FROM su a JOIN su b ON a.ok = b.ok AND a.s <> b.s
      GROUP BY 1, 2),
    n0 AS (SELECT s_suppkey AS v FROM supplier
           WHERE s_suppkey IS NOT NULL),
    nn AS (SELECT count(*) AS n FROM n0),
    {body}
    SELECT 'full' AS mode, v AS s_suppkey, CAST(r AS BIGINT) AS rank_fp
    FROM r{k}_full
    UNION ALL
    SELECT 'dag' AS mode, v AS s_suppkey, CAST(r AS BIGINT) AS rank_fp
    FROM r{k}_dag
    """


@register("q152_supplier_pagerank", _q152_oracle())
def q152_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier influence via integer fixed-point PageRank
    (operators/graph.pagerank — r13, the link-graph staple the
    crawl/curation family was missing: Common Crawl weights its hosts
    with exactly this ranking family). The graph: suppliers co-filling
    an URGENT order, an edge per co-occurrence (weight = number of
    shared urgent orders), derived with one distinct + one per-order
    self-join (bounded by TPC-H's <= 7 lines/order). Verified on BOTH
    graph regimes in one result:

    - mode 'full': both orientations kept — every supplier has
      out-edges on this data, so the recurrence's join/agg path is
      what's exercised (the dangling term is replayed but zero);
    - mode 'dag': edges oriented low key -> high key, which
      guarantees sinks (the global max suppkey among co-order pairs
      can never be a src), so the dangling-mass redistribution is
      exercised with real mass every iteration.

    All arithmetic is BIGINT micro-units (scale 1e12) with floor
    division — the q01 exact-cents discipline applied to an ITERATIVE
    algorithm — so the oracle replays all 5 iterations hash-exactly in
    unrolled CTEs. No float ranks exist on either side.

    No reference counterpart (the reference has no graph operators);
    LLM-pipeline extension. Scale shape: the transition frame is
    persisted once per mode; the supplier ranks and (within
    ``broadcast_nodes_max`` rows, as here) the transition frame are
    collected to the driver, and every iteration runs there in pyarrow
    with no Spark job (graph.py's 100 TB contract: larger edge sets get
    one pass over the transition frame per iteration); the co-occurrence
    self-join keys on l_orderkey so it never leaves the order's
    partition group."""
    from demy_spark.operators.graph import pagerank

    t = _t(spark, sf_dir)
    urgent = (
        t["orders"]
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    su = (
        t["lineitem"]
        .join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    pairs = (
        su.alias("a")
        .join(
            su.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.s") != F.col("b.s")),
        )
        .select(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
    )
    nodes = t["supplier"].where(F.col("s_suppkey").isNotNull()).select(
        "s_suppkey"
    )

    def run(mode: str, p: DataFrame) -> DataFrame:
        return pagerank(
            p,
            nodes,
            src="src",
            dst="dst",
            node_col="s_suppkey",
            iterations=_Q152_ITERS,
            scale=_Q152_SCALE,
        ).select(F.lit(mode).alias("mode"), "s_suppkey", "rank_fp")

    # the two modes are independent graphs over the same edge frame —
    # overlap them so the second mode's jobs back-fill the scheduler
    # gaps of the first's driver-side work (collecting its tables and
    # running its iterations in pyarrow). This is the optimization
    # guide's concurrent-jobs recipe; pagerank's aqe_disabled hold is
    # refcounted for exactly this. InheritableThread
    # propagates the caller's job group/description, keeping the bench
    # job-count stamp attributed (r13: wall 5.1 s -> 3.2 s, job count
    # unchanged).
    out: dict = {}

    def _mode(mode: str, p: DataFrame) -> None:
        try:
            out[mode] = run(mode, p)
        except BaseException as exc:  # re-raised on the caller thread
            out[mode] = exc

    # both modes have materialized (driver-built rank tables) when the
    # scope releases the shared edge frame (``session.owned``)
    with owned():
        # derived once, consumed by both modes, and materialized ONCE
        # before they start: both overlapped calls would otherwise race
        # its first-touch cache build and compute the same partitions
        pairs = keep(pairs)
        pairs.count()
        threads = [
            InheritableThread(target=_mode, args=("full", pairs)),
            InheritableThread(
                target=_mode, args=("dag", pairs.where(F.col("src") < F.col("dst")))
            ),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for mode in ("full", "dag"):
            if isinstance(out[mode], BaseException):
                raise out[mode]
    return out["full"].unionByName(out["dag"])


# The correctness driver verifies the FIRST 50 entries of queries() in dict
# order. Round-13 window (VERDICT r12 task 1 — rotate in the r10-resting
# cohort, the freshness contract's fourth rotation): q99_dsir_select
# leads (the budgeted r12 slip — its latest official row is r9, the
# oldest in the registry), then 48 of the 50 queries whose latest
# official row is r10, in freshness rotation (name) order, plus the
# r13 registration q152_supplier_pagerank (a never-rowed registration
# MUST sit in the window — test_driver_window pins it; the q151/r12
# precedent). The slot q152 consumes means TWO stale names carry to
# lead the r14 window — q96_line_dedup (displaced by q152) and
# q97_duplicated_spans (the 51st rotation name) — both surfaced
# explicitly by scripts/freshness.py `carried_over` (VERDICT r12
# task 6). Done criterion: CORRECTNESS_r13 is 50/50 green, q99 and
# q152 officially rowed, histogram shows nothing older than r11
# except the two budgeted carries q96/q97.
_DRIVER_PRIORITY = [
    # --- the budgeted r12 slip leads (latest row r9)
    "q99_dsir_select",
    # --- the r10-resting cohort in rotation order (q97_duplicated_spans
    # carries to r14 -- the 51st stale name for the 50th slot)
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_orders",
    "q102_strip_spans",
    "q108_record_linkage",
    "q111_chunk_documents",
    "q112_tfidf_terms",
    "q117_bm25_search",
    "q118_orc_roundtrip",
    "q119_group_median",
    "q12_events_hourly",
    "q130_script_profile",
    "q133_c4_filters",
    "q135_bloom_gate",
    "q136_fim_split",
    "q137_blocklist_gate",
    "q140_budget_select",
    "q144_hashingtf_buckets",
    "q145_crawl_archives",
    "q146_jpeg_decode",
    "q147_audio_features",
    "q148_video_metadata",
    "q149_audio_decode",
    "q150_video_sampling",
    "q24_fuzzy_lookup",
    "q26_minhash_dedup",
    "q27_simhash_dedup",
    "q30_ngram_jaccard",
    "q31_dup_clusters",
    "q32_media_features",
    "q33_hash_folds",
    "q34_threshold_sweep",
    "q35_oof_mean_model",
    "q36_multi_hot",
    "q37_embed_apply",
    "q41_locality_match",
    "q44_entity_match",
    "q45_entity_cooccurrence",
    "q49_sentence_split",
    "q54_binary_metrics",
    "q61_bottom_k_sample",
    "q63_salted_agg",
    "q65_partition_prune",
    "q66_pos_tag_greedy",
    "q67_event_followup",
    "q78_entity_refine",
    "q92_gopher_rules",
    "q93_curation_pipeline",
    # --- the r13 registration (never-rowed -> must be in-window;
    # displaces q96_line_dedup, which carries to r14 with q97)
    "q152_supplier_pagerank",
]


def _ordered() -> list[str]:
    front = [n for n in _DRIVER_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(front)]
    return front + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name].oracle for name in _ordered() if REGISTRY[name].oracle}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items() if q.headline}


def bench_extras() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The bench's scale-stress extras, timed OUTSIDE the
    baseline-comparable headline total, in bench order: short name ->
    query function. The one table every timer reads (bench.py,
    scripts/measure.py, the bench-contract job pins)."""
    r = {name: q.fn for name, q in REGISTRY.items()}
    return {
        # candidate-volume regressions surface here first
        "fuzzy_probe_10x": bench_fuzzy_probe_10x,
        # round-3 curation / PQ / packing pipeline operators
        "contamination": r["q86_contamination_check"],
        "pq_ann": r["q89_pq_ann_topk"],
        "sequence_pack": r["q94_sequence_pack"],
        "curation_pipeline": r["q93_curation_pipeline"],
        # round-3 late additions: sub-document dedup, LM scoring, the
        # clustered semantic dedup, and the delta-batch index probe
        "line_dedup": r["q96_line_dedup"],
        "lm_quality": r["q98_lm_quality"],
        "semdedup": r["q100_semdedup"],
        "incremental_probe": r["q101_incremental_dedup"],
        # round-4: chunking (pure-map scan shape), kNN label
        # propagation (brute-force vote baseline), BPE training (corpus
        # reduction + merge rounds + lineage truncation), BM25
        "chunking": r["q111_chunk_documents"],
        "knn_classify": r["q114_knn_classify"],
        "bpe_train": r["q115_bpe_train"],
        "bm25_search": r["q117_bm25_search"],
        # round-5: the repetition-profile per-row fold and the
        # winnowing fingerprint pair screen (explode + co-keyed
        # self-join)
        "repetition_profile": r["q124_repetition_profile"],
        "winnow_pairs": r["q127_winnow_pairs"],
        # round-6: the single-pass Arrow/numpy script profile, the PSL
        # registered-domain rollup, positional phrase retrieval and
        # the C4 line-rule gate
        "script_profile": r["q130_script_profile"],
        "domain_rollup": r["q131_domain_rollup"],
        "phrase_search": r["q134_phrase_search"],
        "c4_filters": r["q133_c4_filters"],
        # round-7: hybrid RRF (two retrieval plans + integer fusion)
        # and the token-budget cut (per-source sort window)
        "hybrid_rrf": r["q138_hybrid_rrf"],
        "budget_select": r["q140_budget_select"],
        # rounds 10-11: the media and pure-Python JPEG decode paths
        # under load (payload parser cost the fixture oracles can't see)
        "media_decode": bench_media_decode,
        "image_decode": bench_image_decode,
        # round 12: the mergeable quantile summary ('exact' derives its
        # capacity from a count() so it stays lossless; 'sketch64'
        # times the compaction path)
        "quantile_sketch": r["q151_quantile_sketch"],
        # round 13: integer fixed-point PageRank over the supplier
        # co-order graph (2 modes x 5 iterations of join+agg with
        # per-iteration lineage truncation)
        "pagerank": r["q152_supplier_pagerank"],
    }
