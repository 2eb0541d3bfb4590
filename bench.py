"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line with per-query wall seconds.

Each query is forced end-to-end with a noop-format write (full plan
execution, no driver-side collect overhead). A full warm-up pass over
every headline query amortizes JVM start-up, codegen compilation and
parquet footer caching out of the numbers — the reported figures are
steady-state wall times (each query still recomputes its whole plan;
nothing result-level is cached between passes).
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from demy_spark.session import get_spark  # noqa: E402
from demy_spark import queries as _q  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# The two timing methodologies: headline rounds (``warm_up``, then
# ``time_rounds``; split so bench can gate on host quiet in between)
# and per-extra passes (``time_extra``). Every timer in the repo (this
# file, scripts/measure.py, the verify skill's isolated pin, the bench
# contract's live job pins) calls these rather than its own loop.


def warm_up(spark, fns: dict, sf_dir: str) -> None:
    """The headline methodology's first half: two full rounds over
    ``fns``. JVM + codegen + parquet footer caches; one round is not
    enough — C2 JIT compilation of generated code is still in flight
    during the next run (measured ~40% inflation on the join-heavy
    queries with a single round). Call ``time_rounds`` after it; bench
    runs its quiet-host gate between the two."""
    for _ in range(2):
        for fn in fns.values():
            force(fn(spark, sf_dir))


def time_rounds(spark, fns: dict, sf_dir: str) -> dict[str, float]:
    """The headline methodology's second half: three timed rounds over
    ``fns`` (name -> query fn), min per name. Transient machine load
    (e.g. a test suite that just finished) inflates a single pass by
    40%+; the min is the standard load-robust wall estimator. Nothing
    result-level is cached between rounds."""
    timings: dict[str, float] = {}
    for _ in range(3):
        for name, fn in fns.items():
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
    return timings


def time_extra(spark, name: str, fn, sf_dir: str) -> tuple[float, int]:
    """The per-extra methodology: clear the cache, one warm-up pass,
    three timed passes; returns (min wall seconds, Spark jobs of the
    last pass).

    Clearing first keeps each reading independent of OTHER extras'
    persisted frames (in-plan persists ARE plan-matched by the
    CacheManager across invocations, so a later extra could silently
    serve an earlier extra's cached reduction). Within one extra the
    timed passes DO read whatever caches the warm-up left behind —
    the steady-state semantics the headline rounds also measure, and
    for extras that return lazily persisted frames it is most of the
    reading: contamination reads 0.45-0.52 s warm against 2.50-2.71 s
    cold at sf0.1.

    Jobs are counted on the last (steady-state) pass (VERDICT r12 task
    3): the artifact records them and test_bench_contract pins the
    known counts, so a silent job-count regression is visible."""
    sc = spark.sparkContext
    group = f"extra-jobs-{name}-{uuid.uuid4().hex}"
    spark.catalog.clearCache()
    force(fn(spark, sf_dir))  # warm-up
    best = float("inf")
    for i in range(3):
        if i == 2:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        best = min(best, round(time.perf_counter() - t0, 3))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return best, len(sc.statusTracker().getJobIdsForGroup(group))


def sched_probe(spark, jobs: int = 40) -> float:
    """Scheduling-bound calibration (BASELINE.md protocol, now IN the
    artifact — VERDICT r6 task 3): wall ms per trivial job. Multi-job
    extras (bpe_train: 13 jobs) carry `jobs × this` of pure scheduler
    tax; a 2× pin breach that disappears after dividing it out is the
    host, not the code. Measured twice (after warm-up and after the
    extras loop) because the tax has been observed to GROW
    late-session — the r6 official bpe_train anomaly."""
    t0 = time.perf_counter()
    for _ in range(jobs):
        spark.range(10).count()
    return round((time.perf_counter() - t0) * 1000 / jobs, 1)


def data_probe(spark, sf_dir: str) -> float:
    """Data-bound calibration: a frozen one-stage scan-and-aggregate
    over lineitem (sum of discounted price + row count), warm-up +
    min-of-3. Pure parquet-scan throughput with trivial scheduling —
    the unit that scales a 'regression' reading for host speed."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    q = df.agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    force(q)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        force(q)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


# the documented quiet-host band for data_calib_sec (BASELINE.md): on
# this container an idle host reads 0.055-0.066; official artifacts
# repeatedly landed at 0.075+ and needed post-hoc adjudication
# (VERDICT r10 task 3). The gate keeps that adjudication out of the
# artifact: wait out transient load, or stamp the run degraded.
QUIET_CALIB = float(os.environ.get("SPARK_GRAFT_QUIET_CALIB", "0.07"))

# Host-class bands (VERDICT r11 task 3 — BASELINE.md "Round-12
# host-class-indexed pins"): the stamped letter names WHICH pin column
# the artifact compares against at face value, ending the per-round
# ratio arithmetic when the host class simply isn't the pin-era one.
# Bands are on the post-gate data_calib_sec; pin_scale is the band
# ceiling over the pin-era reference calib (0.060), the same ratio
# every prior adjudication used. Class C has no face-value column —
# compare via the calib ratio, as before.
# DERIVED from QUIET_CALIB (ADVICE r12): overriding
# SPARK_GRAFT_QUIET_CALIB moves the preflight gate AND the class
# bands in lockstep, so one artifact can't mix the two
# classifications. Defaults are unchanged: A <= 0.070 at face value
# 1.0, B <= 0.105 at pin_scale 1.75. Under an override BOTH
# pin_scales track their moved ceilings proportionally — an upward
# override must NOT re-letter a slow host as face-value class A
# (the A multiplier stays 1.0 only at the default ceiling the pins
# were set under).
PIN_ERA_CALIB = 0.060
HOST_CLASS_BANDS = (
    ("A", QUIET_CALIB, round(QUIET_CALIB / 0.07, 4)),
    ("B", QUIET_CALIB * 1.5, round(QUIET_CALIB * 1.5 / PIN_ERA_CALIB, 4)),
    ("C", None, None),
)


def host_class(calib: float) -> tuple[str, float | None]:
    """(class letter, face-value pin multiplier) for a post-gate
    data_calib_sec reading."""
    for name, ceiling, scale in HOST_CLASS_BANDS:
        if ceiling is None or calib <= ceiling:
            return name, scale
    return "C", None  # pragma: no cover - the None ceiling catches all


def preflight_gate(spark, sf_dir: str) -> tuple[list[float], bool]:
    """Run the data-bound probe BEFORE the timed sections and back off
    while the host is busy: up to three readings with 20 s / 40 s
    waits between them. Must run AFTER the headline warm-up passes —
    the probe's quiet band (<= 0.07) was pinned on a fully-warm JVM,
    and a cold session reads 2-3x that from C2 compilation alone
    (measured r11), which would stamp every run degraded. Returns
    (all readings, host_degraded) — degraded means no reading reached
    QUIET_CALIB and the artifact must be read through its calibration
    numbers rather than at face value (including the case where the
    HOST CLASS is simply slower than the pin-era hosts: face-value
    comparison is equally invalid there, which is the stamp's exact
    meaning)."""
    readings: list[float] = []
    for wait in (0, 20, 40):
        if wait:
            time.sleep(wait)
        readings.append(data_probe(spark, sf_dir))
        if readings[-1] <= QUIET_CALIB:
            return readings, False
    return readings, True


def _split32_twin(spark, sf_dir: str) -> str:
    """A twin of ``sf_dir`` whose ``documents`` table is 32 part files
    (written once, reused across runs); every other table symlinks the
    original. Build cost is OUTSIDE the timed readings."""
    import hashlib
    import tempfile

    src_docs = os.path.join(sf_dir, "documents.parquet")
    # the cache key carries the SOURCE's identity (mtime+size), so a
    # regenerated fixture at the same path gets a fresh twin instead
    # of silently benchmarking stale data (code-review r9); symlinks
    # are re-pointed every run for the same reason
    st = os.stat(src_docs)
    tag = hashlib.md5(
        f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    twin = os.path.join(tempfile.gettempdir(), f"demy_bench_split32_{tag}")
    docs_dir = os.path.join(twin, "documents.parquet")
    os.makedirs(twin, exist_ok=True)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f != "documents.parquet":
            link = os.path.join(twin, f)
            if os.path.islink(link) or os.path.exists(link):
                os.remove(link)
            os.symlink(os.path.join(sf_dir, f), link)
    if not os.path.isdir(docs_dir):
        (
            spark.read.parquet(src_docs)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(docs_dir)
        )
    return twin


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Shuffle partitions sized to the WORKLOAD, not the thread count:
    # at bench SF a 32-way shuffle makes every post-shuffle task too
    # small to amortize scheduling (measured ~15% total inflation vs
    # 16), while scans still use all local[cpus] threads. The same
    # sizing discipline applies in reverse at cluster scale.
    spark = get_spark(
        "demy_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=min(cpus, 16),
    )

    fns = dict(sorted(_q.headline_queries().items()))
    warm_up(spark, fns, sf_dir)

    # quiet-host gate BEFORE any timed reading (VERDICT r10 task 3),
    # AFTER warm-up so the probe reads in the same JVM state its
    # quiet band was pinned in
    preflight, host_degraded = preflight_gate(spark, sf_dir)

    sched_start = sched_probe(spark)
    data_calib = data_probe(spark, sf_dir)

    timings = time_rounds(spark, fns, sf_dir)

    # scale-stress probes OUTSIDE the baseline-comparable headline
    # total (queries.bench_extras)
    extras = _q.bench_extras()
    extra_timings: dict[str, float] = {}
    extra_jobs: dict[str, int] = {}
    for name, fn in extras.items():
        extra_timings[name], extra_jobs[name] = time_extra(spark, name, fn, sf_dir)

    # split-parallel twin readings for the MAP-SHAPED extras (VERDICT
    # r8 task 7): the sf0.1 fixture is one parquet file, so a pure
    # narrow map runs as ONE task and the reading conflates per-row
    # cost with parallelism (c4_filters: 3.3 s one-file vs ~0.5 s at 32
    # splits, PLANS.md round-6). A 32-file twin of `documents` (built
    # once under the tempdir, other tables symlinked) records what any
    # real multi-file input gives for free; both readings ship in the
    # artifact so regressions in map-shaped operators adjudicate
    # against the right denominator.
    split_dir = _split32_twin(spark, sf_dir)
    split_timings = {
        name: time_extra(spark, name, extras[name], split_dir)[0]
        for name in ("c4_filters", "repetition_profile", "script_profile")
    }

    sched_end = sched_probe(spark)

    hclass, pin_scale = host_class(data_calib)
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extra_queries": extra_timings,
                # Spark jobs per extra on the steady-state pass
                # (VERDICT r12 task 3): the denominator for the
                # "jobs x sched_ms_per_job" adjudication rule, so a
                # silent job-count regression is visible in the
                # artifact itself
                "extra_jobs": extra_jobs,
                # same operators over the 32-split documents twin — the
                # multi-file reality; compare against extra_queries to
                # separate per-row cost from single-task serialization
                "extra_queries_split32": split_timings,
                # in-artifact calibration (BASELINE.md "In-artifact
                # calibration protocol"): scheduling tax in ms/trivial
                # job, measured after warm-up AND after the extras
                # loop (late-session growth is the known anomaly
                # mode), plus a frozen data-bound scan probe
                "sched_ms_per_job": sched_end,
                "sched_ms_per_job_start": sched_start,
                "data_calib_sec": data_calib,
                # pre-flight gate (VERDICT r10 task 3): the readings
                # the run opened with, and whether it ever reached the
                # quiet band; a true host_degraded means adjudicate
                # via the calibration ratio, not face-value timings
                "data_calib_preflight": preflight,
                "host_degraded": host_degraded,
                # host class (r12): which BASELINE.md pin column this
                # artifact compares against at face value — "A" = the
                # pin-era quiet band, "B" = pins x pin_scale, "C" =
                # no face-value column, use the calib ratio
                "host_class": hclass,
                "pin_scale": pin_scale,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
