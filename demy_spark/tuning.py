"""Fold construction, out-of-fold prediction and threshold optimization.

Parity targets in the reference:
- ``RandomSplit`` (tuning/RandomSplit.scala:14-65): ratio/fold split,
  group-consistent via hash, stratified via per-stratum split.
- ``RankSplit`` (tuning/RankSplit.scala:14-120): rank-ordered folds over
  (optionally grouped/aggregated) measure columns.
- ``FoldsPredictor`` (tuning/FoldsPredictor.scala:43-124): per-fold fit +
  out-of-fold transform, union of predictions, forceTrainOn/forceTestOn
  SQL filters.
- ``BinaryOptimalEvaluator`` (tuning/BinaryOptimalEvaluator.scala:35-224):
  threshold sweep over score bins optimizing f1 / precision@ / recall@.

Scale notes: fold assignment is a pure arithmetic hash (no shuffle, no
global sort); the threshold sweep aggregates to ≤``bins`` rows BEFORE its
global window, so the single-partition window is over a constant-size
frame at any data scale.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.session import keep, owned

# Knuth multiplicative hash constant (2^32 / phi). Chosen over F.hash /
# xxhash64 deliberately: plain integer arithmetic reproduces bit-exactly
# in any SQL engine (the DuckDB oracle), while remaining uniform enough
# for fold balance.
_KNUTH = 2654435761
_M32 = 4294967296


def fold_of(key: Column | str, n_folds: int, seed: int = 0) -> Column:
    """Deterministic fold id in [0, n_folds) from a numeric key column.

    Group-consistent by construction: rows sharing the key land in the
    same fold (the reference's group-hash split,
    tuning/RandomSplit.scala:46-57).
    """
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        F.pmod(k.cast("long") * _KNUTH + seed, _M32), n_folds
    ).cast("int")


def random_split(
    df: DataFrame,
    n_folds: int,
    key_col: str,
    *,
    seed: int = 0,
    fold_col: str = "fold",
) -> DataFrame:
    """Attach a hash-based fold column. Stratification falls out for
    free: a uniform hash is uniform within every stratum."""
    return df.withColumn(fold_col, fold_of(key_col, n_folds, seed))


def rank_split(
    df: DataFrame,
    n_folds: int,
    order_cols: list[str],
    *,
    partition_cols: list[str] | None = None,
    fold_col: str = "fold",
) -> DataFrame:
    """Rank-ordered folds (ntile) over measure columns, optionally per
    group. NOTE: without partition_cols the window is single-partition —
    use ``random_split`` on the 100 TB path, or partition first."""
    w = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    ).orderBy(*order_cols)
    return df.withColumn(fold_col, F.ntile(n_folds).over(w))


def train_test_folds(
    df: DataFrame, n_folds: int, fold_col: str = "fold"
) -> Iterator[tuple[int, DataFrame, DataFrame]]:
    """Yield (fold, train, test) pairs from a fold-labelled frame."""
    for i in range(n_folds):
        yield i, df.where(F.col(fold_col) != i), df.where(F.col(fold_col) == i)


def out_of_fold_predict(
    df: DataFrame,
    n_folds: int,
    key_col: str,
    fit: Callable[[DataFrame], object],
    transform: Callable[[object, DataFrame], DataFrame],
    *,
    seed: int = 0,
    force_train_on: str | None = None,
    force_test_on: str | None = None,
) -> DataFrame:
    """Out-of-fold prediction: fit on k-1 folds, predict the held-out
    fold, union all predictions — every row is scored by a model that
    never saw it (FoldsPredictor.scala:43-124).

    ``force_train_on`` / ``force_test_on`` are SQL predicates: forced
    train rows join every training set (and are never predicted);
    forced test rows are only predicted, by the fold-0 model.
    """
    base = random_split(df, n_folds, key_col, seed=seed, fold_col="_fold_")
    forced_train = base.where(F.expr(force_train_on)) if force_train_on else None
    if force_test_on:
        forced_test = base.where(F.expr(force_test_on))
        base = base.where(~F.expr(force_test_on))
    else:
        forced_test = None
    if force_train_on:
        base = base.where(~F.expr(force_train_on))

    parts: list[DataFrame] = []
    for i, train, test in train_test_folds(base, n_folds, "_fold_"):
        if forced_train is not None:
            train = train.unionByName(forced_train)
        model = fit(train.drop("_fold_"))
        parts.append(transform(model, test.drop("_fold_")))
        if i == 0 and forced_test is not None:
            parts.append(transform(model, forced_test.drop("_fold_")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    bins: int = 100,
) -> DataFrame:
    """Per-threshold binary metrics from binned scores.

    Plan: bin scores (one map + one ≤``bins``-row agg, so the shuffle
    carries a constant number of rows regardless of input size), then a
    descending cumulative window turns bin counts into tp/fp at each
    threshold = bin lower edge. Mirrors the reference's use of binned
    BinaryClassificationMetrics (BinaryOptimalEvaluator.scala:35-224).

    Returns (threshold, tp, fp, fn, tn, precision, recall, f1) with one
    row per non-empty bin, threshold ascending.
    """
    b = F.least(F.floor(F.col(score_col) * bins), F.lit(bins - 1)).cast("int")
    lbl = F.col(label_col).cast("int")
    binned = df.select(b.alias("_bin_"), lbl.alias("_y_"))
    agg = binned.groupBy("_bin_").agg(
        F.sum("_y_").alias("_pos_"), F.count(F.lit(1)).alias("_n_")
    )
    w = Window.orderBy(F.desc("_bin_")).rowsBetween(Window.unboundedPreceding, 0)
    tot_p = F.sum("_pos_").over(Window.partitionBy())
    tot_n = F.sum("_n_").over(Window.partitionBy())
    cum = agg.select(
        "_bin_",
        F.sum("_pos_").over(w).alias("tp"),
        (F.sum("_n_").over(w) - F.sum("_pos_").over(w)).alias("fp"),
        (tot_p - F.sum("_pos_").over(w)).alias("fn"),
        ((tot_n - tot_p) - (F.sum("_n_").over(w) - F.sum("_pos_").over(w))).alias("tn"),
    )
    precision = F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
    recall = F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
    f1 = 2 * precision * recall / F.nullif(precision + recall, F.lit(0))
    return (
        cum.select(
            (F.col("_bin_").cast("double") / bins).alias("threshold"),
            "tp",
            "fp",
            "fn",
            "tn",
            F.round(precision, 6).alias("precision"),
            F.round(recall, 6).alias("recall"),
            F.round(F.coalesce(f1, F.lit(0.0)), 6).alias("f1"),
        )
        .orderBy("threshold")
    )


def best_threshold(
    sweep: DataFrame,
    *,
    optimize: str = "f1",
    min_precision: float | None = None,
    min_recall: float | None = None,
) -> dict:
    """Pick the best threshold row (driver-side over ≤bins rows).
    ``optimize`` ∈ {f1, precision, recall}; the min_* constraints give
    the reference's precision@/recall@ modes."""
    cand = sweep
    if min_precision is not None:
        cand = cand.where(F.col("precision") >= min_precision)
    if min_recall is not None:
        cand = cand.where(F.col("recall") >= min_recall)
    rows = cand.orderBy(F.desc(optimize), F.asc("threshold")).limit(1).collect()
    if not rows:  # constraints unsatisfiable → fall back to best effort
        rows = sweep.orderBy(F.desc(optimize)).limit(1).collect()
    return rows[0].asDict()


def roc_auc_from_sweep(sweep: DataFrame) -> DataFrame:
    """Area under the ROC curve by trapezoid over the sweep's bins
    (evaluation/BinaryMetrics.scala:8-38 areaUnderROC at bin
    resolution). Traverses thresholds descending — (fpr, tpr) walks
    (0,0) → (1,1); the lowest non-empty bin is always (1,1) because
    the counts are cumulative. Returns a 1-row frame (auc). The lag
    window runs over ≤bins rows — constant-size at any data scale."""
    pts = sweep.select(
        "threshold",
        (F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))).alias("_tpr_"),
        (F.col("fp") / F.nullif(F.col("fp") + F.col("tn"), F.lit(0))).alias("_fpr_"),
    )
    w = Window.orderBy(F.desc("threshold"))
    seg = pts.select(
        (
            (F.col("_fpr_") - F.coalesce(F.lag("_fpr_").over(w), F.lit(0.0)))
            * (F.col("_tpr_") + F.coalesce(F.lag("_tpr_").over(w), F.lit(0.0)))
            / 2.0
        ).alias("_a_")
    )
    return seg.agg(F.round(F.sum("_a_"), 6).alias("auc"))


def chi_square_2x2(tp, fp, fn, tn) -> Column:
    """Pearson chi-square statistic of the 2×2 confusion table
    (the reference logs ChiSquare over prediction×label,
    BinaryOptimalEvaluator.scala:200-224). Double arithmetic — the
    integer form n·(ad−bc)² overflows a long on ~10k-row tables."""
    a, b, c, d = [
        (F.col(x) if isinstance(x, str) else x).cast("double")
        for x in (tp, fp, fn, tn)
    ]
    n = a + b + c + d
    num = n * (a * d - b * c) * (a * d - b * c)
    den = F.nullif((a + b) * (c + d) * (a + c) * (b + d), F.lit(0.0))
    return num / den


def chi_square_p(stat: float) -> float:
    """Two-sided p-value for a 1-dof chi-square statistic:
    p = erfc(sqrt(x/2)). Driver-side scalar (no SQL erfc)."""
    import math

    return math.erfc(math.sqrt(max(stat, 0.0) / 2.0))


def binary_metrics(
    df: DataFrame, score_col: str, label_col: str, *, bins: int = 100
) -> dict:
    """The reference's BinaryOptimalEvaluator metric bundle: best-f1
    threshold row + areaUnderROC + chi-square (statistic and p-value)
    at the best threshold. One constant-size sweep feeds everything."""
    with owned():
        sweep = keep(threshold_sweep(df, score_col, label_col, bins=bins))
        best = best_threshold(sweep)
        auc = roc_auc_from_sweep(sweep).collect()[0]["auc"]
        stat_row = (
            sweep.where(F.col("threshold") == best["threshold"])
            .select(chi_square_2x2("tp", "fp", "fn", "tn").alias("_x_"))
            .collect()
        )
        chi2 = stat_row[0]["_x_"] if stat_row else None
        return {
            **best,
            "auc": auc,
            "chi2": chi2,
            "p_value": chi_square_p(chi2) if chi2 is not None else None,
        }
