"""Window-based helpers: per-group top-k, latest-wins dedup, id assignment.

Parity:
- top-1 best-match reduce: geo/src/main/scala/AddressLocalizator.scala:29-36
  (groupByKey + reduceGroups argmax) — re-expressed as a rank window,
  which Spark executes with partial top-k pushdown instead of a full sort.
- latest-wins merge: topic/Tag.scala:108-120, topic/Annotation.scala:105-120
  (repartition + sortWithinPartitions + mapPartitions) — a window dedup
  is the shuffle-equivalent but restartable and AQE-aware.
- AddId: text/AddId.scala:16 (row_number over a global window). A global
  window is a single-partition bottleneck at scale; we default to
  ``monotonically_increasing_id`` semantics unless dense ids are demanded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.session import keep


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str | Column],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "_rank_",
    method: str = "row_number",
) -> DataFrame:
    """Keep the top ``k`` rows per group under ``order_by``.

    ``method``: row_number (exactly k), rank / dense_rank (ties kept).
    Executes as one hash shuffle on the group keys; with AQE, skewed
    groups split automatically.
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    fn = getattr(F, method)
    return (
        df.withColumn(rank_col, fn().over(w))
        .where(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def latest_wins(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """One row per key — the latest by ``ts_col`` (annotation/tag merge)."""
    order = [F.col(ts_col).desc()] + list(tiebreak or [])
    return top_k_per_group(df, list(keys), order, k=1)


def add_id(
    df: DataFrame, id_col: str = "id", dense: bool = False
) -> DataFrame:
    """Assign unique long ids.

    dense=False (default): ``monotonically_increasing_id`` — no shuffle,
    unique but gapped; the only option that scales to 100 TB.
    dense=True: contiguous 0..n-1 via a two-phase window (per-partition
    row_number + partition-offset cumsum) — still avoids the reference's
    single-partition global window.
    """
    if not dense:
        return df.withColumn(id_col, F.monotonically_increasing_id())
    part = df.withColumn("_pid_", F.spark_partition_id()).withColumn(
        "_rn_",
        F.row_number().over(
            Window.partitionBy("_pid_").orderBy(F.monotonically_increasing_id())
        ),
    )
    offsets = (
        part.groupBy("_pid_")
        .agg(F.count("*").alias("_cnt_"))
        .withColumn(
            "_off_",
            F.coalesce(
                F.sum("_cnt_").over(
                    Window.orderBy("_pid_").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt_")
    )
    return (
        part.join(F.broadcast(offsets), "_pid_")
        .withColumn(id_col, (F.col("_rn_") - 1 + F.col("_off_")).cast("long"))
        .drop("_pid_", "_rn_", "_off_")
    )


def order_positions(
    df: DataFrame,
    order_cols: list,
    pos_col: str = "_pos_",
) -> DataFrame:
    """Contiguous 0..n-1 positions under the TOTAL order given by
    ``order_cols`` (callers include a unique tie-break column) — the
    ordered generalization of ``add_id(dense=True)``: range-partition
    on the order, per-partition row_number, partition-offset cumsum
    (a #partitions-sized single-partition window — constant at any
    data scale), broadcast join back.

    The range-partitioned frame is EAGERLY pinned with ``persist`` +
    ``count`` before the offsets and rank branches read it: range
    boundaries come from sampling, and if the two branches ever
    re-executed the exchange independently (e.g. exchange reuse
    disabled) they could sample DIFFERENT bounds and silently corrupt
    positions. One materialization = one set of bounds, by
    construction. The cached frame is NOT freed by the ContextCleaner:
    the session's CacheManager holds it until its owner releases it
    (``session.owned``).
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    part = keep(
        df.repartitionByRange(n_parts, *order_cols).withColumn(
            "_pid_", F.spark_partition_id()
        )
    )
    part.count()
    ranked = part.withColumn(
        "_rn_",
        F.row_number().over(Window.partitionBy("_pid_").orderBy(*order_cols)),
    )
    offsets = (
        part.groupBy("_pid_")
        .agg(F.count(F.lit(1)).alias("_cnt_"))
        .withColumn(
            "_off_",
            F.coalesce(
                F.sum("_cnt_").over(
                    Window.orderBy("_pid_").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid_", "_off_")
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid_")
        .withColumn(pos_col, (F.col("_off_") + F.col("_rn_") - 1).cast("long"))
        .drop("_pid_", "_rn_", "_off_")
    )
