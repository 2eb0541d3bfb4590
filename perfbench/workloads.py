"""Workload definitions and the ops they run.

An op is one unit of client work, timed in two phases:

- a query op calls ``REGISTRY[name].fn(spark, data_dir)`` (the *plan*
  phase, which may already run eager jobs) and forces the returned
  frame with a noop-sink write (the *exec* phase);
- an ingest op opens one staged ``events`` batch (*plan*) and folds it
  into a versioned rollup store with
  ``streaming.rollup.apply_rollup_batch`` (*exec*).

A pass runs every op of the workload once.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    # registry query -> the tables it reads (its input rows per op)
    queries: dict[str, tuple[str, ...]] = field(default_factory=dict)
    batches: int = 0  # ingest: events batches per pass
    # untimed passes before the timed phase, in a fresh JVM. On both
    # workloads the third pass could still run 10-40% slower than the
    # passes after it
    warmup: int = 3

    @property
    def tables(self) -> list[str]:
        if self.batches:
            return ["events"]
        return sorted({t for ts in self.queries.values() for t in ts})


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "iterative",
            0.01,
            {
                "q134_phrase_search": ("documents",),
                "q152_supplier_pagerank": ("lineitem", "orders", "supplier"),
            },
        ),
        Workload("ingest", 0.1, batches=8),
    )
}

SMOKE_SF = 0.001


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory, from the footers."""
    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class QueryOp:
    def __init__(self, name: str, data_dir: str, tables: tuple[str, ...]) -> None:
        from demy_spark.queries import REGISTRY

        self.name = name
        self.query = REGISTRY[name]
        self.data_dir = data_dir
        self.rows = sum(parquet_rows(os.path.join(data_dir, f"{t}.parquet")) for t in tables)

    def plan(self, spark):
        return self.query.fn(spark, self.data_dir)

    def exec(self, spark, df) -> None:
        df.write.format("noop").mode("overwrite").save()


# the rollup the ingest ops maintain: integer partials per (hour, type)
ROLLUP_KEYS = ["hour", "event_type"]


def rollup_spec() -> dict:
    from pyspark.sql import functions as F

    return {
        "sums": {"cents_sum": F.sum("cents")},
        "mins": {"min_cents": F.min("cents")},
        "maxs": {"max_cents": F.max("cents")},
    }


def events_rows(spark, data_dir: str):
    """The ingest input: events reduced to the rollup's key and metric
    columns (``cents`` quantized so partials are exact integers)."""
    from pyspark.sql import functions as F

    from demy_spark.io import load_table

    ev = load_table(spark, data_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )


def stage_batches(spark, data_dir: str, out_dir: str, batches: int, seed: int) -> list[str]:
    """Slice events into ``batches`` contiguous event-id ranges with
    seed-drawn boundaries, written as one parquet directory each."""
    from pyspark.sql import functions as F

    n = parquet_rows(os.path.join(data_dir, "events.parquet"))
    cuts = sorted(random.Random(seed).sample(range(1, n), batches - 1))
    batch = sum((F.col("event_id") >= c).cast("int") for c in cuts)
    shutil.rmtree(out_dir, ignore_errors=True)
    events_rows(spark, data_dir).withColumn("b", batch).drop("event_id").write.partitionBy(
        "b"
    ).parquet(out_dir)
    return [os.path.join(out_dir, f"b={b}") for b in range(batches)]


class IngestOp:
    """Fold one staged batch into the store of the current pass."""

    def __init__(self, batch_dir: str) -> None:
        self.name = f"batch{batch_dir.rsplit('=', 1)[1]}"
        self.batch_dir = batch_dir
        self.rows = parquet_rows(batch_dir)
        self.store = ""  # set per pass
        self.txn = ""
        self.epoch = 0

    def plan(self, spark):
        return spark.read.parquet(self.batch_dir)

    def exec(self, spark, df) -> None:
        from demy_spark.streaming.rollup import apply_rollup_batch

        if not apply_rollup_batch(df, self.store, ROLLUP_KEYS, self.txn, self.epoch, **rollup_spec()):
            raise RuntimeError(f"{self.name}: batch skipped as a replay")


def store_versions(store: str) -> list[str]:
    """Committed version directories of a rollup store, oldest first."""
    if not os.path.isdir(store):
        return []
    vs = [d for d in os.listdir(store) if d.startswith("v=")]
    return sorted(vs, key=lambda d: int(d[2:]))


def version_files(store: str) -> int:
    """Data files in the newest committed version of a rollup store."""
    vs = store_versions(store)
    if not vs:
        return 0
    return len(glob.glob(os.path.join(store, vs[-1], "*.parquet")))
