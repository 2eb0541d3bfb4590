"""SparkSession factory, the one session-state change an operator
makes (``aqe_disabled``, the refcounted AQE hold of the eager
iteration loops), and the ownership scope of cached intermediates
(``keep`` / ``owned``). No operator sets the SparkContext checkpoint
directory: reliable checkpoints write through ``io.checkpoint``.

Parity: core/src/main/scala/Application.scala:10-54 (session bootstrap).
The reference builds one session per spark-submit run; we expose a
factory with cluster-sane defaults that also behaves on local[N].
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    """Shuffle-partition default: env override, else CPU count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "demy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting
      and dynamic broadcast decisions replace hand-tuned repartitions.
    - UTC session timezone: deterministic timestamp semantics (and the
      DuckDB oracle compares naive-UTC values).
    - Arrow on: pandas UDFs and toPandas go through columnar batches.
    - Generated-code cache of 512 classes (Spark's default is 100): one
      steady pass of q152 + q134 needs about 150 distinct classes, so
      at 100 the LRU evicted them and every pass recompiled (134.75
      Janino compiles per pass, measured with CodegenMetrics; 0 at 256
      and above). A static conf: it only takes effect when this call
      creates the first session of the process.
    - No codegen stage id in generated class names: the id is part of
      the cached source and can differ between runs of the same adaptive
      plan, so a re-run query still missed the cache (q134's second run
      recompiled 8-14 classes, each differing from a first-run class
      only in that id). Plans from ``explain()`` still show the ids.
    """
    cpus = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide agg stages (e.g. the 128-column MinHash signature) must
        # stay in whole-stage codegen; the default cutoff is 100 fields
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_aqe_lock = threading.Lock()
_aqe_holds: dict = {}  # JVM session -> [depth, caller's AQE value or None if unset]


@contextmanager
def aqe_disabled(spark: SparkSession):
    """AQE off on ``spark`` while held, the caller's value restored
    when the LAST concurrent holder exits.

    Why: the eager iteration loops (``graph.pagerank``,
    ``dedup.assign_clusters``, the phrase and BPE trainers) work on
    node- or vocab-sized or already persisted frames, where adaptive
    replanning optimizes nothing yet materializes every exchange as its
    own scheduler job. Measured: q152's two 5-iteration pagerank calls
    at sf0.1 ran 83 jobs with AQE on vs 43 off on the broadcast path
    (OPTIMIZATION_r13.md); with pagerank's iterations on the driver,
    q152 at sf0.01 still ran 30 jobs instead of 17 and a median wall of
    1.90 instead of 1.66 s when the hold covered only the Spark-iterating
    passes, not its setup jobs; six
    BPE rounds ran 37 jobs instead of 13 (PLANS.md round-5). A loop
    materializes its frames inside the hold: a lazily returned plan
    would run after the restore and gain nothing.

    Concurrency: the hold is refcounted per session, so overlapping
    calls (q152 runs its two pagerank modes on threads; a trainer may
    run beside them) neither restore early nor leave AQE off: a
    set/restore pair per call would let the first exit turn AQE back on
    under a running loop, and the last exit restore the ``false`` it
    saved. A session that never set the key gets it unset again, not
    set to Spark's default.

    Blast radius: the conf is session-global while held. Any unrelated
    query another thread runs on the same session meanwhile plans with
    AQE off — correct results, but no runtime coalescing or skew
    handling. Callers that interleave these operators with serving
    traffic should run them on a sibling ``spark.newSession()``, which
    has its own SQLConf and its own count here."""
    key = spark._jsparkSession
    with _aqe_lock:
        hold = _aqe_holds.get(key)
        if hold is None:
            hold = _aqe_holds[key] = [0, spark.conf.get("spark.sql.adaptive.enabled", None)]
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        hold[0] += 1
    try:
        yield
    finally:
        with _aqe_lock:
            hold[0] -= 1
            if hold[0] == 0:
                del _aqe_holds[key]
                if hold[1] is None:
                    spark.conf.unset("spark.sql.adaptive.enabled")
                else:
                    spark.conf.set("spark.sql.adaptive.enabled", hold[1])


# the innermost open owned() scope of this context: the frames it releases
_scope: ContextVar[list[DataFrame] | None] = ContextVar("demy_spark_owned", default=None)
_keep_lock = threading.Lock()


def keep(df: DataFrame) -> DataFrame:
    """Persist ``df`` and return it, owned by the innermost ``owned()``
    scope open in this context; with none open, the caller releases it
    (the ContextCleaner never frees a persisted DataFrame: the
    CacheManager holds it). A plan the CacheManager already holds is
    neither persisted again nor owned: its first keeper still owns it."""
    with _keep_lock:  # two keepers of one plan: only the first owns it
        if df.storageLevel != StorageLevel.NONE:
            return df
        df.persist()
    frames = _scope.get()
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def owned():
    """Unpersist (``blocking=True``) every frame ``keep`` registers in
    the block when it exits, by exception too. Scopes nest and are
    per-context (a ``ContextVar``): threads on one session each release
    only their own frames, and a new thread starts outside every scope.
    An operator whose result no longer reads its caches wraps its body
    in one; a caller that runs its final action inside one gets the
    cache back as it found it. ``localCheckpoint`` blocks stay the
    ContextCleaner's: freeing them early would break a re-run."""
    frames: list[DataFrame] = []
    token = _scope.set(frames)
    try:
        yield
    finally:
        _scope.reset(token)
        for df in frames:
            df.unpersist(blocking=True)
