"""Pipeline orchestrator: named steps, versioned grid expansion,
per-step snapshots and metrics.

Parity targets (the reference's in-house "query plan", SURVEY §3 EP2):
- ``Model``/``ModelStep`` (Model.scala:17-257, ModelStep.scala:7-131):
  ordered steps folding DataFrame → DataFrame with per-step
  select/drop/rename/repartition/cache/snapshot, named inputs
  (``#table`` external, ``$step`` a prior step's output).
- ``ModelPlan``/``ModelVersion`` (ModelPlan.scala:5-46,
  ModelVersion.scala:8-90): grid search as plan rewriting —
  set/switch/merge/repeat expand into a list of versions.
- Metrics appended per (model, version) to a JSON log
  (Model.scala:126-165).

Scale notes: orchestration is driver-side control flow only — every
step body is still a declarative DataFrame plan, so Catalyst sees
through the whole pipeline except at explicit snapshot boundaries
(which exist precisely to cut lineage / enable reuse, like the
reference's parquet checkpoints).
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from demy_spark.session import keep


@dataclass
class Step:
    """One pipeline step. ``op`` receives the resolved input frames (in
    ``inputs`` order) and keyword params; returns a DataFrame."""

    name: str
    op: Callable[..., DataFrame]
    inputs: list[str] = field(default_factory=list)  # '#table' or '$step'
    params: dict[str, Any] = field(default_factory=dict)
    select: list[str] | None = None
    drop: list[str] | None = None
    rename: dict[str, str] | None = None
    repartition: int | None = None
    cache: bool = False
    snapshot: bool = False


class Model:
    """Ordered steps + named wiring. ``run`` folds the steps, applying
    the per-step column/caching directives, and records wall-clock
    metrics per step."""

    def __init__(
        self,
        name: str,
        steps: list[Step],
        *,
        snapshot_dir: str | None = None,
        reuse_snapshots: bool = True,
        config: "Configuration | None" = None,
    ) -> None:
        self.name = name
        self.steps = steps
        self.snapshot_dir = snapshot_dir
        self.reuse_snapshots = reuse_snapshots
        self.config = config
        self.metrics: list[dict[str, Any]] = []

    def _cfg(self, step: str, key: str, value: Any) -> Any:
        """Resolve a ``Cfg`` marker param through the app configuration
        (Configuration.scala:11-35 wired into the plan — SURVEY §3 EP1:
        the reference's app run loads a JSON config and its models read
        properties from it)."""
        from demy_spark.config import Cfg

        if not isinstance(value, Cfg):
            return value
        if self.config is None:
            raise ValueError(
                f"step {step}: param {key} is Cfg({value.prop!r}) but the "
                "model has no configuration"
            )
        return self.config.get_or_default(value.prop)

    def _resolve(
        self, ref: str, externals: dict[str, DataFrame], produced: dict[str, DataFrame]
    ) -> DataFrame:
        if ref.startswith("#"):
            return externals[ref[1:]]
        if ref.startswith("$"):
            return produced[ref[1:]]
        raise KeyError(f"input ref must start with # or $: {ref!r}")

    def run(
        self,
        spark: SparkSession,
        inputs: dict[str, DataFrame],
        *,
        version: str = "0",
        overrides: dict[str, dict[str, Any]] | None = None,
    ) -> dict[str, DataFrame]:
        """Execute every step; returns {step name → output frame} plus
        ``output`` (the last step). ``overrides`` maps step name →
        param updates (how a ModelVersion reparameterizes the plan)."""
        from demy_spark.io import checkpoint

        produced: dict[str, DataFrame] = {}
        for step in self.steps:
            t0 = time.perf_counter()
            dfs = [self._resolve(r, inputs, produced) for r in step.inputs]
            params = {**step.params, **(overrides or {}).get(step.name, {})}
            params = {k: self._cfg(step.name, k, v) for k, v in params.items()}
            df = step.op(*dfs, **params)
            if step.select:
                df = df.select(*step.select)
            if step.drop:
                df = df.drop(*step.drop)
            for old, new in (step.rename or {}).items():
                df = df.withColumnRenamed(old, new)
            if step.repartition:
                df = df.repartition(step.repartition)
            if step.cache:
                df = keep(df)
            if step.snapshot:
                if not self.snapshot_dir:
                    raise ValueError(f"step {step.name}: snapshot needs snapshot_dir")
                path = os.path.join(self.snapshot_dir, self.name, version, step.name)
                df = checkpoint(df, path, reuse_existing=self.reuse_snapshots)
            produced[step.name] = df
            self.metrics.append(
                {
                    "model": self.name,
                    "version": version,
                    "step": step.name,
                    "wall_s": round(time.perf_counter() - t0, 4),
                    "ts": time.time(),
                }
            )
        produced["output"] = produced[self.steps[-1].name]
        return produced

    def write_metrics(self, path: str) -> None:
        """Append metrics as JSON lines (≈ the reference's partitioned
        JSON metric log, Model.scala:126-165)."""
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "a", encoding="utf-8") as f:
            for m in self.metrics:
                f.write(json.dumps(m) + "\n")


class Plan:
    """Grid expansion over step params (ModelPlan.scala:5-46).

    A plan is a list of versions; each version maps step name → param
    overrides. ``set`` updates every version; ``switch`` multiplies the
    version list by one value per option; ``merge`` concatenates two
    plans' versions; ``repeat`` tiles them.
    """

    def __init__(self, versions: list[dict[str, dict[str, Any]]] | None = None):
        self.versions = versions if versions is not None else [{}]

    @staticmethod
    def _with(
        version: dict[str, dict[str, Any]], step: str, **params: Any
    ) -> dict[str, dict[str, Any]]:
        out = {k: dict(v) for k, v in version.items()}
        out.setdefault(step, {}).update(params)
        return out

    def set(self, step: str, **params: Any) -> "Plan":
        return Plan([self._with(v, step, **params) for v in self.versions])

    def switch(self, step: str, param: str, values: list[Any]) -> "Plan":
        return Plan(
            [
                self._with(v, step, **{param: val})
                for v, val in itertools.product(self.versions, values)
            ]
        )

    def merge(self, other: "Plan") -> "Plan":
        return Plan(self.versions + other.versions)

    def repeat(self, n: int) -> "Plan":
        return Plan([dict(v) for v in self.versions for _ in range(n)])

    def build(self) -> list[dict[str, dict[str, Any]]]:
        return self.versions


def grid_search(
    model: Model,
    spark: SparkSession,
    inputs: dict[str, DataFrame],
    plan: Plan,
    evaluate: Callable[[DataFrame], float],
    *,
    maximize: bool = True,
) -> dict[str, Any]:
    """Run the model once per plan version, score the final output, and
    return {best_version, best_score, scores} — the reference's
    version loop with metric logging (Model.scala:180-257)."""
    scores: list[dict[str, Any]] = []
    for i, overrides in enumerate(plan.build()):
        out = model.run(spark, inputs, version=str(i), overrides=overrides)
        scores.append(
            {"version": str(i), "overrides": overrides, "score": evaluate(out["output"])}
        )
    best = (max if maximize else min)(scores, key=lambda s: s["score"])
    return {"best_version": best["version"], "best_score": best["score"], "scores": scores}
