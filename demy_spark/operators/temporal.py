"""Temporal operators: as-of join, interval range join, multi-grain
time rollup (with gap fill).

Spark-native extensions beyond the reference's operator set (the
reference's only temporal machinery is the hand-rolled hourly capture
flush, twitter/src/main/scala/Execute.scala:58-98, and lag-window
traces, spark/Trace.scala:28-32). These are the operators a
timeseries/training-data pipeline needs at 100 TB, built shuffle-lean:

- ``asof_join``: union + last-value carry-forward window — ONE shuffle
  on the key, no join node at all, no candidate explosion. The naive
  formulation (equi-join + "right.ts <= left.ts" + window argmax)
  materializes |left| x |orders-per-key| rows before reducing; this one
  never widens beyond |left| + |right|.
- ``range_join``: point-in-interval join. With an equi-key it is a
  plain co-keyed join with the range as residual predicate (one
  shuffle, SMJ/hash). Without one, intervals are exploded onto a
  coarse time-bucket grid and joined bucket-to-bucket — bounded
  fan-out instead of a cartesian.
- ``time_rollup``: hierarchical rollup where each coarser grain
  re-aggregates the next finer grain's PARTIALS (hour -> day -> ...),
  TimescaleDB-continuous-aggregate style: the raw table is scanned
  once, every coarser grain aggregates a frame that is orders of
  magnitude smaller.
- ``aggregate_partials`` / ``merge_partials``: incremental rollup
  maintenance — a stored aggregate table absorbs a delta batch by
  merging mergeable partials (sum-of-sums, sum-of-counts, min-of-mins,
  max-of-maxs), never re-scanning history. The aggregation twin of the
  incremental dedup probe (``dedup.minhash_index``/``minhash_probe``):
  each crawl/batch costs O(delta) + one rollup-sized co-keyed merge.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.session import keep

_GRAIN_ORDER = ("minute", "hour", "day", "week", "month", "quarter", "year")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    tie_break: str | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_ts <= left_ts`` on the same key(s) (backward as-of).

    Plan shape: tag both sides, union, and run one
    ``last(payload, ignorenulls)`` window per key ordered by
    ``(ts, side, tie_break)`` — right rows sort before left rows at
    equal ts, so the match is inclusive, and within a (key, ts) tie the
    max-``tie_break`` right row sorts last and wins deterministically
    (no separate dedup pass — the tie-break rides the same sort).
    Exactly ONE shuffle (the window's partitioning); output width is
    |left|.

    ``tolerance_seconds`` nulls out matches older than the window
    (pandas ``merge_asof(tolerance=...)`` semantics): the left row is
    kept, its right columns become NULL.
    """
    keys = [on] if isinstance(on, str) else list(on)
    for c in ("_ts_", "_side_", "_tb_", "_payload_"):
        if c in left.columns:
            raise ValueError(f"left already has reserved column {c}")

    r = (
        right.select(
            *[F.col(k) for k in keys],
            F.col(right_ts).cast("timestamp").alias("_ts_"),
            (F.col(tie_break) if tie_break is not None else F.lit(0)).alias("_tb_"),
            F.struct(*[F.col(c) for c in right_cols]).alias("_payload_"),
        )
        # a NULL right_ts can never satisfy right_ts <= left_ts (the
        # SQL predicate is NULL) — without this filter it would sort
        # nulls-FIRST in the carry-forward window and masquerade as
        # the oldest match for every otherwise-unmatched left row
        # (multi-table degenerate fuzz, r8)
        .where(F.col("_ts_").isNotNull())
        # same for a NULL join KEY: an equi-join never matches NULL =
        # NULL, but partitionBy groups the NULLs into one partition
        # where such a right row would masquerade as a match for
        # NULL-key left rows (which must pass through UNMATCHED, as
        # the LEFT-JOIN oracle keeps them) — r8 self-review
        .where(
            functools.reduce(
                lambda a, b: a & b, [F.col(k).isNotNull() for k in keys]
            )
        )
        .withColumn("_side_", F.lit(0))
    )

    l = (
        left.withColumn("_ts_", F.col(left_ts).cast("timestamp"))
        .withColumn("_side_", F.lit(1))
        .withColumn("_tb_", F.lit(None).cast(r.schema["_tb_"].dataType))
    )
    both = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(*keys)
        .orderBy("_ts_", "_side_", F.asc_nulls_first("_tb_"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        both.withColumn("_match_", F.last("_payload_", ignorenulls=True).over(w))
        .withColumn("_match_ts_", F.max(F.when(F.col("_side_") == 0, F.col("_ts_"))).over(w))
        .where(F.col("_side_") == 1)
    )
    if tolerance_seconds is not None:
        in_tol = (
            F.col("_ts_").cast("long") - F.col("_match_ts_").cast("long")
            <= tolerance_seconds
        )
        matched = matched.withColumn(
            "_match_", F.when(in_tol, F.col("_match_"))
        ).withColumn("_match_ts_", F.when(in_tol, F.col("_match_ts_")))

    out = matched.select(
        *[F.col(c) for c in left.columns],
        F.col("_match_ts_").alias("matched_ts"),
        *[F.col("_match_")[c].alias(c) for c in right_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_point: str,
    right_start: str,
    right_end: str,
    on: str | Sequence[str] | None = None,
    bucket_seconds: int = 3600,
    end_inclusive: bool = False,
) -> DataFrame:
    """Join left "point" rows into right ``[start, end)`` intervals.

    With ``on`` keys: co-keyed equi-join, range as residual predicate —
    one shuffle on the keys, no row-count blow-up beyond true matches.
    Without keys: both sides are mapped onto a coarse time-bucket grid
    (intervals explode to the buckets they overlap via ``sequence``),
    the join runs bucket-to-bucket, and the residual range predicate
    filters — fan-out is interval_span/bucket_seconds per interval
    instead of |left| x |right|. Pick ``bucket_seconds`` near the
    typical interval length.
    """
    upper = F.col(left_point) <= F.col(right_end) if end_inclusive else F.col(
        left_point
    ) < F.col(right_end)
    in_range = (F.col(left_point) >= F.col(right_start)) & upper

    if on is not None:
        keys = [on] if isinstance(on, str) else list(on)
        return left.join(right, on=keys, how="inner").where(in_range)

    if "_bkt_" in left.columns or "_bkt_" in right.columns:
        raise ValueError("reserved column _bkt_ present")
    bkt = lambda c: F.floor(F.col(c).cast("long") / bucket_seconds)  # noqa: E731
    l = left.withColumn("_bkt_", bkt(left_point))
    r = right.withColumn(
        "_bkt_", F.explode(F.sequence(bkt(right_start), bkt(right_end)))
    )
    return l.join(r, on="_bkt_", how="inner").where(in_range).drop("_bkt_")


def time_rollup(
    df: DataFrame,
    *,
    ts: str,
    grains: Sequence[str],
    group_by: Sequence[str] = (),
    metrics: dict[str, Column] | None = None,
    fill_gaps: bool = False,
) -> DataFrame:
    """Multi-grain rollup: one row per (grain, bucket, *group_by).

    The finest grain aggregates the raw frame once; every coarser grain
    re-aggregates the finest grain's partial aggregates (sum-of-sums,
    sum-of-counts) — the raw table is scanned exactly once no matter
    how many grains are requested. Metrics must therefore be
    sum/count-decomposable: ``metrics`` maps name -> aggregate over the
    RAW frame; re-aggregation upward is ``sum(name)``. Default metrics:
    ``n`` (count) and nothing else.

    ``fill_gaps`` emits zero rows for empty buckets between the min and
    max bucket of each grain (per group_by combination), so downstream
    windows see a dense series.
    """
    if not grains:
        raise ValueError("need at least one grain")
    order = {g: i for i, g in enumerate(_GRAIN_ORDER)}
    gs = sorted(grains, key=lambda g: order[g])
    metrics = metrics or {"n": F.count(F.lit(1))}
    names = list(metrics)
    gcols = list(group_by)

    finest = keep(
        df.groupBy(F.date_trunc(gs[0], F.col(ts)).alias("bucket"), *gcols)
        .agg(*[m.alias(n) for n, m in metrics.items()])
    )
    levels = {gs[0]: finest}
    for prev, g in zip(gs, gs[1:]):
        levels[g] = (
            levels[prev]
            .groupBy(F.date_trunc(g, F.col("bucket")).alias("bucket"), *gcols)
            .agg(*[F.sum(n).alias(n) for n in names])
        )

    outs = []
    for g in gs:
        lvl = levels[g].withColumn("grain", F.lit(g))
        if fill_gaps:
            interval = F.expr(f"INTERVAL 1 {g.upper()}")
            span = lvl.groupBy(*gcols).agg(
                F.min("bucket").alias("_lo_"), F.max("bucket").alias("_hi_")
            )
            grid = span.select(
                *gcols,
                F.explode(F.sequence("_lo_", "_hi_", interval)).alias("bucket"),
            )
            lvl = (
                grid.join(lvl.drop("grain"), on=[*gcols, "bucket"], how="left")
                .select(
                    "bucket",
                    *gcols,
                    *[F.coalesce(F.col(n), F.lit(0)).alias(n) for n in names],
                )
                .withColumn("grain", F.lit(g))
            )
        outs.append(lvl.select("grain", "bucket", *gcols, *names))

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def aggregate_partials(
    df: DataFrame,
    keys: Sequence[str | Column],
    *,
    sums: dict[str, Column] | None = None,
    mins: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """Reduce a raw frame to MERGEABLE partial aggregates per key:
    a count plus sum/min/max metrics (each mapping name -> expression
    over the raw frame). The output schema is the stored-rollup
    contract ``merge_partials`` consumes — derived statistics (means,
    rates) are computed from the merged partials at read time, never
    stored, so they stay exact under any merge order. Quantize
    float metrics to integers (cents, micros) in the expressions:
    integer partials make the stored table bit-stable.
    """
    aggs = [F.count(F.lit(1)).alias(count_col)]
    aggs += [m.alias(name) for name, m in (sums or {}).items()]
    aggs += [m.alias(name) for name, m in (mins or {}).items()]
    aggs += [m.alias(name) for name, m in (maxs or {}).items()]
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(
    stored: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    *,
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    count_col: str = "n",
) -> DataFrame:
    """Merge a stored partial-aggregate table with a delta batch's
    partials (both in ``aggregate_partials``'s schema): counts and sum
    metrics add, min/max metrics take min/max — the classic mergeable-
    aggregate algebra, so ``merge(agg(A), agg(B)) == agg(A ∪ B)``
    exactly (integer partials) regardless of how history was batched.

    Scale shape: both inputs are rollup-sized (bounded by key
    cardinality, not corpus size); the merge is one co-keyed shuffle
    of those small frames. History is NEVER re-scanned — this is how a
    continuous aggregate absorbs each new crawl/day at O(delta) cost.
    New keys appearing only in the delta (or only in the store) pass
    through the union unchanged.
    """
    merged = stored.unionByName(delta)
    aggs = [F.sum(count_col).alias(count_col)]
    aggs += [F.sum(c).alias(c) for c in sum_cols]
    aggs += [F.min(c).alias(c) for c in min_cols]
    aggs += [F.max(c).alias(c) for c in max_cols]
    return merged.groupBy(*keys).agg(*aggs)
