"""Blocked record linkage: multi-field fuzzy entity resolution
between two tables.

The scale-generalized form of the reference's address matching
(`geo/AddressLocalizator.scala:29-36` scores locality+street
candidates and keeps the argmax; `mllib` text similarity backs it):
block on an equality key, score each candidate pair as a weighted sum
of per-field similarities, keep the best match per probe record above
a threshold.

Determinism (oracle-gate ready): per-field similarity is
``1 - levenshtein/max(len)`` — integer Levenshtein and integer
lengths, so the double is the SAME IEEE value on any engine (no libm
call anywhere) — and the weighted sum is quantized to micro-units
BEFORE ranking, with the id pair as the total tie-break.

Scale shape: candidates exist only within blocks (the classic
record-linkage blocking bound — choose block keys so block sizes stay
flat as data grows: postcode, phone prefix, sorted-neighborhood key);
the argmax is a per-probe rank window (WindowGroupLimit prunes
map-side); no broadcast of either table is assumed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.session import keep

__all__ = ["record_linkage", "field_similarity_micro", "sorted_neighborhood_pairs"]

_MICRO = 1_000_000


def field_similarity_micro(a: Column, b: Column, weight: float) -> Column:
    """``floor(weight * (1 - levenshtein/max(len)) * 1e6)`` as BIGINT —
    the quantized contribution of one field pair. NULL on either side
    scores 0 (no evidence, not negative evidence)."""
    la, lb = F.length(a), F.length(b)
    denom = F.greatest(la, lb)
    sim = F.when(
        a.isNull() | b.isNull(), F.lit(0.0)
    ).when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / denom
    )
    return F.floor(sim * F.lit(float(weight)) * F.lit(float(_MICRO))).cast(
        "long"
    )


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    block_col: str | None,
    fields: Sequence[tuple[str, float]],
    *,
    min_score: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Best ``left`` match per ``right`` record.

    ``fields`` is a sequence of (column, weight) pairs present in both
    frames; the pair score is the sum of quantized per-field
    similarities (micro-units of the summed weights). Returns one row
    per right record that has any candidate scoring >= ``min_score``
    (in weight units): (``id_right``, ``id_left``, score_micro). Ties
    break to the smallest left id.

    Candidate generation — pick ONE:
    - ``block_col``: equality blocking. Pair volume is
      sum-of-block-sizes-squared, so the block key MUST stay
      fine-grained as data grows: a key whose block sizes scale with
      the corpus is the classic quadratic linkage trap (measured: 25
      nation blocks over 150k records = ~900M Levenshtein pairs,
      ~8 min on local[32] — vs 2.5s for sorted-neighborhood blocking
      on the same data).
    - ``candidates``: a precomputed (``id_left``, ``id_right``) frame
      — e.g. ``sorted_neighborhood_pairs`` output renamed, a MinHash
      band join, or any blocking whose volume you control. Scoring
      joins the field columns back co-keyed on the ids.
    """
    if (block_col is None) == (candidates is None):
        raise ValueError("provide exactly one of block_col or candidates")
    if not fields:
        raise ValueError("fields must name at least one (column, weight) pair")
    lcols_f = [F.col(c).alias(f"_l_{c}_") for c, _ in fields]
    rcols_f = [F.col(c).alias(f"_r_{c}_") for c, _ in fields]
    if candidates is not None:
        pairs = (
            candidates.select(
                F.col(id_left).alias("_il_"), F.col(id_right).alias("_ir_")
            )
            .join(
                left.select(F.col(id_left).alias("_il_"), *lcols_f), "_il_"
            )
            .join(
                right.select(F.col(id_right).alias("_ir_"), *rcols_f), "_ir_"
            )
        )
    else:
        lcols = [
            F.col(block_col).alias("_blk_"), F.col(id_left).alias("_il_")
        ] + lcols_f
        rcols = [
            F.col(block_col).alias("_blk_"), F.col(id_right).alias("_ir_")
        ] + rcols_f
        pairs = right.select(*rcols).join(left.select(*lcols), "_blk_")
    score = None
    for c, w in fields:
        term = field_similarity_micro(
            F.col(f"_l_{c}_"), F.col(f"_r_{c}_"), w
        )
        score = term if score is None else score + term
    scored = pairs.select("_ir_", "_il_", score.alias("score_micro")).where(
        # round, not truncate: int(0.7e6) is 699999 under IEEE doubles
        F.col("score_micro") >= int(round(min_score * _MICRO))
    )
    w_rank = Window.partitionBy("_ir_").orderBy(
        F.col("score_micro").desc(), F.col("_il_").asc()
    )
    return (
        scored.withColumn("_rk_", F.row_number().over(w_rank))
        .where(F.col("_rk_") == 1)
        .select(
            F.col("_ir_").alias(id_right),
            F.col("_il_").alias(id_left),
            "score_micro",
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    *,
    window: int = 10,
) -> DataFrame:
    """Sorted-neighborhood candidate generation — the other classic
    record-linkage blocking: rank all rows by ``sort_col`` (ties by
    id) and emit every pair within ``window`` positions. Typo'd keys
    that share a prefix sort adjacently, so near-matches become
    candidates without any equality block key.

    Returns (id_a, id_b, pos_a, pos_b) with pos_a < pos_b — feed the
    pairs to a scorer (``field_similarity_micro``) for the match
    decision.

    Scale shape: the global rank is ``topk.order_positions`` — the
    two-phase range trick (range-partition, per-partition row_number,
    partition-offset cumsum over a #partitions-sized frame), never a
    single-partition data window; the position is a pure function of
    the (sort_col, id) total order. Candidates come from a co-keyed
    self-join on position buckets of width ``window`` (each row joins
    its own and the next bucket), fan-out bounded by 2*window per
    row. The position frame is persisted for its three join branches;
    the ContextCleaner does not free it (the CacheManager holds it), so
    with ``order_positions``' own frame it belongs to the caller's
    ``session.owned`` scope.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from demy_spark.operators.topk import order_positions

    pos = keep(
        order_positions(
            df.select(F.col(id_col).alias("_id_"), F.col(sort_col).alias("_k_")),
            [F.col("_k_").asc(), F.col("_id_").asc()],
        )
    )
    a = pos.select(
        F.col("_id_").alias("id_a"),
        F.col("_pos_").alias("pos_a"),
        (F.col("_pos_") / window).cast("long").alias("_b_"),
    )
    # each left row probes its own bucket and the next one — covers
    # every pair with 0 < pos_b - pos_a <= window exactly once
    a2 = a.select("id_a", "pos_a", (F.col("_b_") + 1).alias("_b_")).unionAll(a)
    b = pos.select(
        F.col("_id_").alias("id_b"),
        F.col("_pos_").alias("pos_b"),
        (F.col("_pos_") / window).cast("long").alias("_b_"),
    )
    return (
        a2.join(b, "_b_")
        .where(
            (F.col("pos_b") > F.col("pos_a"))
            & (F.col("pos_b") - F.col("pos_a") <= window)
        )
        .select("id_a", "id_b", "pos_a", "pos_b")
    )
