"""Classification wrappers: margin→score calibration, one-vs-rest
multi-output classification, parallel per-component fits.

Parity targets:
- ``WrappedClassifier`` (topic/WrappedClassifier.scala:9-62): raw
  2-class margins → [0,1] score. PySpark exposes ``rawPrediction``
  directly, so no reflection is needed; the atan blend lives in
  ``functions/calibration.py`` and is re-exported here.
- ``DiscreteVectorClassifier`` (classification/
  DiscreteVectorClassifier.scala:19-150): one binary classifier per
  label component, fit in parallel, transform producing a score array.

Scale notes: each component model is a Spark ML estimator (distributed
fit); the Python thread pool only overlaps job *scheduling* (the
reference uses Scala Futures the same way, Params.scala:10-16). The
transform is a single pass: one model pipeline per component applied to
the same cached features frame.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demy_spark.functions.calibration import raw_prediction_to_score
from demy_spark.session import keep, owned

__all__ = [
    "raw_prediction_to_score",
    "fit_one_vs_rest",
    "predict_one_vs_rest",
    "predict_one_vs_rest_frozen",
]


def _fit_component(df: DataFrame, features_col: str, label_idx: int, seed: int):
    from pyspark.ml.classification import LinearSVC

    binary = df.select(
        F.col(features_col).alias("features"),
        F.element_at(F.col("_labels_"), label_idx + 1).cast("double").alias("label"),
    )
    svc = LinearSVC(maxIter=20, regParam=0.01)
    return svc.fit(binary)


def fit_one_vs_rest(
    df: DataFrame,
    features_col: str,
    labels_col: str,
    n_labels: int,
    *,
    seed: int = 42,
    parallelism: int = 4,
) -> list:
    """Fit one LinearSVC per label component of a multi-hot label array
    (DiscreteVectorClassifier.scala:19-150). ``features_col`` must be an
    ml-vector column; ``labels_col`` an array<int> of length n_labels.
    Fits run through a thread pool to overlap Spark job scheduling."""
    with owned():
        base = keep(df.select(features_col, F.col(labels_col).alias("_labels_")))
        base.count()  # materialize once; every component fit reuses it
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            models = list(
                pool.map(
                    lambda i: _fit_component(base, features_col, i, seed),
                    range(n_labels),
                )
            )
    return models


def predict_one_vs_rest(
    models: list, df: DataFrame, features_col: str, *, out_col: str = "scores"
) -> DataFrame:
    """Score every component model; returns df + array<double> of
    calibrated [0,1] scores (margin → atan blend) + argmax label."""
    out = df.withColumnRenamed(features_col, "features") if features_col != "features" else df
    score_cols = []
    for i, m in enumerate(models):
        from pyspark.ml.functions import vector_to_array

        out = (
            m.transform(out)
            .withColumn(
                f"_score_{i}_",
                raw_prediction_to_score(vector_to_array("rawPrediction")),
            )
            .drop("rawPrediction", "prediction")
        )
        score_cols.append(f"_score_{i}_")
    scores = F.array(*[F.col(c) for c in score_cols])
    out = out.withColumn(out_col, scores).drop(*score_cols)
    best = F.array_position(out_col, F.array_max(out_col)) - 1
    return out.withColumn("predicted_label", best.cast("int"))


def predict_one_vs_rest_frozen(
    df: DataFrame,
    features_col: str,
    weights: list[list[float]],
    intercepts: list[float],
    *,
    out_col: str = "scores",
    margin_decimals: int | None = None,
) -> DataFrame:
    """Serving-path transform of DiscreteVectorClassifier
    (classification/DiscreteVectorClassifier.scala:19-150 +
    evaluation/RawPrediction2Score.scala:24-35) from FROZEN per-label
    weight vectors: margin_l = w_l·x + b_l computed in-plan
    (zip_with/aggregate, whole-stage codegen — no MLlib model objects,
    the shape you deploy on a cluster that only serves), atan-blended
    to a [0,1] score array, argmax label (first index wins ties).

    ``margin_decimals`` rounds each margin before the blend so two
    engines summing in different orders agree exactly — the
    deterministic-replay knob the DuckDB oracle relies on.
    """
    from demy_spark.functions.calibration import margin_to_score
    from demy_spark.functions.vectors import dot

    x = F.col(features_col).cast("array<double>")
    scores = []
    for w, b in zip(weights, intercepts):
        wcol = F.array(*[F.lit(float(v)) for v in w])
        m = dot(x, wcol) + F.lit(float(b))
        if margin_decimals is not None:
            m = F.round(m, margin_decimals)
        scores.append(margin_to_score(m))
    out = df.withColumn(out_col, F.array(*scores))
    best = F.array_position(F.col(out_col), F.array_max(out_col)) - 1
    return out.withColumn("predicted_label", best.cast("int"))
