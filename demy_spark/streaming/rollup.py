"""Streaming continuous aggregate: maintain a stored partial-aggregate
table from a stream of events via ``foreachBatch`` merge.

The streaming twin of ``operators/temporal.aggregate_partials`` +
``merge_partials`` (q121's batch shape; no reference analog — its
streaming surface is the hourly capture flush,
`twitter/Execute.scala:58-98`, which appends raw files and never
maintains an aggregate): each micro-batch reduces to mergeable integer
partials (count/sum/min/max) and merges into the parquet-backed store
with ONE rollup-sized co-keyed shuffle. Because the partial algebra is
exact (merge(agg(A), agg(B)) == agg(A ∪ B) on integers), the store
equals the from-scratch batch aggregation after ANY micro-batch
slicing — the test asserts that equality.

``foreachBatch`` rather than a native streaming agg because the store
must live OUTSIDE the streaming checkpoint (queryable by any engine,
survivable across query rewrites); the merge itself is the batch
operator verbatim — one code path, zero drift between the stream
updater and a batch backfill.

Durability protocol (foreachBatch is AT-LEAST-ONCE, epoch ids are
CHECKPOINT-scoped, and an in-place overwrite would corrupt the store
if the writer died mid-write):
- The store is VERSIONED: every applied batch writes a complete new
  snapshot under ``store/v=<n>`` (``n`` a store-local counter, NOT the
  epoch id), staged under a dot-prefixed temp dir and directory-renamed
  into place — atomic on HDFS and local filesystems. A crash at any
  point leaves the previous version intact. A ``v=`` dir without a
  ``_txn.json`` marker is treated as foreign and REFUSED (never
  silently discarded).
- Each version records the (transaction id, epoch) that produced it —
  the Delta ``txnAppId``/``txnVersion`` idempotence pattern, with the
  streaming checkpoint directory as the transaction identity. A
  replayed epoch from the SAME checkpoint (crash-restart redelivery)
  is skipped; a DIFFERENT checkpoint (query rewrite — Spark re-reads
  the whole source) means the incoming epochs re-cover data already in
  the store, so a REBUILD starts from that transaction's batches
  (epoch ids are meaningless across checkpoints; merging them would be
  corruption, not recovery).
- Retention prunes only SAME-transaction superseded snapshots (keep
  the newest ``keep_versions``); snapshots from earlier transactions
  are never auto-deleted — during a rebuild the previous transaction's
  final snapshot stays readable under its own version while the new
  transaction's versions accumulate PARTIAL aggregates until its
  stream drains. Don't point readers at the newest version mid-rebuild;
  call ``prune_rollup_store`` once the rebuild has drained to drop the
  superseded generations.
- Orphaned staging dirs from crashed writes are garbage-collected on
  the next successful commit.
- All filesystem probing goes through the Hadoop FileSystem API, so
  ``hdfs://``/``s3a://`` store paths resolve like Spark's own IO
  (NOTE: object-store directory "rename" is copy-based, not atomic —
  there, back the store with a transactional table format instead).
- One updater per store (the normal continuous-aggregate deployment);
  the version protocol does not arbitrate concurrent WRITERS. External
  READERS racing the updater should raise ``keep_versions`` so the
  snapshot they resolved stays on disk while they scan it.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from demy_spark.operators.temporal import aggregate_partials, merge_partials

__all__ = [
    "apply_quantile_batch",
    "apply_rollup_batch",
    "prune_rollup_store",
    "read_rollup_store",
    "streaming_quantile_update",
    "streaming_rollup_update",
]


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _list_store(spark: SparkSession, store_path: str):
    """One directory listing: (fs, store jpath, jvm, sorted committed
    versions, orphaned staging names)."""
    fs, jpath, jvm = _fs(spark, store_path)
    versions: list[int] = []
    staging: list[str] = []
    if fs.exists(jpath):
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("v="):
                versions.append(int(name[2:]))
            elif st.isDirectory() and name.startswith(".staging-v="):
                staging.append(name)
    return fs, jpath, jvm, sorted(versions), staging


def _read_txn(spark: SparkSession, fs, jvm, store_path: str, version: int) -> dict:
    """Read a version's transaction marker in one JVM call. A missing
    marker is a FOREIGN store — refuse rather than guess."""
    p = jvm.org.apache.hadoop.fs.Path(f"{store_path}/v={version}/_txn.json")
    if not fs.exists(p):
        raise ValueError(
            f"{store_path}/v={version} has no _txn.json marker — not a store "
            "written by apply_rollup_batch; migrate or clear it explicitly"
        )
    stream = fs.open(p)
    try:
        return json.loads(stream.readAllBytes().decode("utf-8"))
    finally:
        stream.close()


def read_rollup_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the newest committed snapshot of a versioned rollup store.
    During a rebuild (see module docstring) the newest snapshot holds
    the new transaction's PARTIAL aggregates; the previous
    transaction's final snapshot remains readable at its own
    ``store/v=<n>`` path until pruned."""
    _, _, _, versions, _ = _list_store(spark, store_path)
    if not versions:
        raise FileNotFoundError(f"no committed rollup version under {store_path}")
    return spark.read.parquet(f"{store_path}/v={versions[-1]}")


def prune_rollup_store(spark: SparkSession, store_path: str) -> int:
    """Drop every snapshot except the newest (call once a rebuild has
    drained, or to reclaim space); returns the number deleted."""
    fs, _, jvm, versions, staging = _list_store(spark, store_path)
    for v in versions[:-1]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/v={v}"), True)
    for name in staging:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/{name}"), True)
    return max(0, len(versions) - 1) + len(staging)


def apply_rollup_batch(
    batch_df: DataFrame,
    store_path: str,
    keys: Sequence[str],
    txn_id: str,
    epoch_id: int,
    *,
    sums: dict[str, Column] | None = None,
    mins: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
    count_col: str = "n",
    keep_versions: int = 2,
) -> bool:
    """Fold one batch into the versioned store; returns True if applied,
    False if skipped as a replay. Idempotence contract:

    - same ``txn_id``, epoch ≤ last applied epoch → REPLAY, skipped;
    - different ``txn_id`` → new query incarnation whose epochs
      re-cover the source from the start, so a REBUILD starts from this
      transaction's batches (prior-transaction snapshots stay on disk
      until ``prune_rollup_store`` — never silently double-merged,
      never silently deleted).

    Directly callable for batch backfills and unit tests; the streaming
    updater passes its checkpoint dir as ``txn_id``.
    """
    def delta_fn(b: DataFrame) -> DataFrame:
        return aggregate_partials(b, list(keys), sums=sums, mins=mins,
                                  maxs=maxs, count_col=count_col)

    def merge_fn(stored: DataFrame, delta: DataFrame) -> DataFrame:
        return merge_partials(
            stored,
            delta,
            list(keys),
            sum_cols=list(sums or ()),
            min_cols=list(mins or ()),
            max_cols=list(maxs or ()),
            count_col=count_col,
        )

    return _apply_versioned_batch(
        batch_df, store_path, txn_id, epoch_id, delta_fn, merge_fn,
        keep_versions=keep_versions,
    )


def _apply_versioned_batch(
    batch_df: DataFrame,
    store_path: str,
    txn_id: str,
    epoch_id: int,
    delta_fn,
    merge_fn,
    *,
    keep_versions: int = 2,
) -> bool:
    """The generic fold-into-versioned-store skeleton behind every
    foreachBatch summary twin (rollup partials, quantile summaries):
    ``delta_fn(batch)`` reduces the batch to its mergeable summary,
    ``merge_fn(stored, delta)`` folds it into the newest same-
    transaction snapshot. Everything else — the txn/epoch idempotence
    contract, staged atomic rename commit, same-transaction retention,
    orphan GC — is the module-docstring durability protocol, shared
    verbatim so a new summary type can never fork it."""
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    spark = batch_df.sparkSession
    fs, store_jpath, jvm, versions, staging = _list_store(spark, store_path)
    last_txn = (
        _read_txn(spark, fs, jvm, store_path, versions[-1]) if versions else None
    )
    same_txn = last_txn is not None and last_txn["txn_id"] == txn_id
    if same_txn and epoch_id <= last_txn["epoch"]:
        return False  # at-least-once redelivery of an applied batch
    delta = delta_fn(batch_df)
    if same_txn:
        stored = spark.read.parquet(f"{store_path}/v={versions[-1]}")
        merged = merge_fn(stored, delta)
        # same-txn snapshots superseded beyond the retention window;
        # clamp — during warm-up fewer exist than the window holds.
        # The newest version's marker was read above.
        same_txn_versions = [
            v
            for v in versions[:-1]
            if _read_txn(spark, fs, jvm, store_path, v)["txn_id"] == txn_id
        ] + [versions[-1]]
        stale = same_txn_versions[
            : max(0, len(same_txn_versions) - (keep_versions - 1))
        ]
    else:
        merged = delta  # empty store, or a new transaction: rebuild
        stale = []  # prior-txn snapshots are kept (see docstring)
    next_v = (versions[-1] + 1) if versions else 0
    staging_path = f"{store_path}/.staging-v={next_v}"
    merged.write.mode("overwrite").parquet(staging_path)
    txn_path = jvm.org.apache.hadoop.fs.Path(f"{staging_path}/_txn.json")
    out = fs.create(txn_path, True)
    try:
        out.write(bytearray(json.dumps({"txn_id": txn_id, "epoch": epoch_id}).encode()))
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(f"{store_path}/v={next_v}")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staging_path), final):
        raise IOError(f"could not commit rollup version {next_v}")
    for v in stale:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/v={v}"), True)
    for name in staging:  # orphans from crashed writes (pre-listed)
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/{name}"), True)
    return True


def streaming_rollup_update(
    events_stream: DataFrame,
    store_path: str,
    keys: Sequence[str],
    *,
    sums: dict[str, Column] | None = None,
    mins: dict[str, Column] | None = None,
    maxs: dict[str, Column] | None = None,
    count_col: str = "n",
    checkpoint_dir: str,
    keep_versions: int = 2,
):
    """Start an availableNow stream that folds every micro-batch into
    the versioned partial-aggregate store at ``store_path`` (created on
    first batch; read it back with ``read_rollup_store``). Returns the
    started StreamingQuery; callers own
    ``awaitTermination``/``processAllAvailable``.

    ``sums``/``mins``/``maxs`` map output names to aggregate
    expressions over the raw batch (quantize floats to integers there
    — integer partials make the store bit-stable under any batch
    slicing). Each epoch costs O(batch) plus one co-keyed merge of two
    rollup-sized frames; history is never re-scanned. The checkpoint
    directory is the store's transaction identity — crash-restart
    replays are skipped, and pointing a NEW checkpoint at an existing
    store starts a rebuild (see ``apply_rollup_batch`` and the module
    docstring's durability protocol).
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_rollup_batch(
            batch_df,
            store_path,
            keys,
            checkpoint_dir,
            epoch_id,
            sums=sums,
            mins=mins,
            maxs=maxs,
            count_col=count_col,
            keep_versions=keep_versions,
        )

    return (
        events_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_quantile_batch(
    batch_df: DataFrame,
    store_path: str,
    col: str,
    keys: Sequence[str],
    txn_id: str,
    epoch_id: int,
    *,
    shards: int = 16,
    capacity: int = 8192,
    shard_key: Sequence[str] | None = None,
    weight_col: str | None = None,
    keep_versions: int = 2,
) -> bool:
    """Fold one batch into a versioned QUANTILE-summary store — the
    streaming twin of ``operators/sketches.quantile_sketch_build`` +
    ``quantile_sketch_merge`` (r12), sharing the rollup store's
    durability protocol verbatim through ``_apply_versioned_batch``.
    Each epoch costs O(batch) to summarize plus one merge of two
    summary-sized frames (<= shards*(capacity+1) rows per group);
    history is never re-scanned. Because the summary is mergeable and
    mass-conserving, the store read through ``read_rollup_store`` and
    queried with ``quantile_sketch_query`` equals the from-scratch
    batch sketch after ANY micro-batch slicing whenever the summaries
    stay lossless (capacity >= shard counts — the same exactness
    contract q151's oracle verifies), and stays within the documented
    rank-error bounds under compression."""
    from demy_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_merge,
    )

    def delta_fn(b: DataFrame) -> DataFrame:
        return quantile_sketch_build(
            b,
            col,
            list(keys),
            shards=shards,
            capacity=capacity,
            shard_key=shard_key,
            weight_col=weight_col,
        )

    def merge_fn(stored: DataFrame, delta: DataFrame) -> DataFrame:
        return quantile_sketch_merge(
            stored, delta, by=list(keys), capacity=capacity
        )

    return _apply_versioned_batch(
        batch_df, store_path, txn_id, epoch_id, delta_fn, merge_fn,
        keep_versions=keep_versions,
    )


def streaming_quantile_update(
    events_stream: DataFrame,
    store_path: str,
    col: str,
    keys: Sequence[str],
    *,
    checkpoint_dir: str,
    shards: int = 16,
    capacity: int = 8192,
    shard_key: Sequence[str] | None = None,
    weight_col: str | None = None,
    keep_versions: int = 2,
):
    """Start an availableNow stream that maintains the quantile-summary
    store (see ``apply_quantile_batch``; read it back with
    ``read_rollup_store`` and query with ``quantile_sketch_query``).
    Same transaction-identity / rebuild semantics as
    ``streaming_rollup_update``."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_quantile_batch(
            batch_df,
            store_path,
            col,
            keys,
            checkpoint_dir,
            epoch_id,
            shards=shards,
            capacity=capacity,
            shard_key=shard_key,
            weight_col=weight_col,
            keep_versions=keep_versions,
        )

    return (
        events_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
