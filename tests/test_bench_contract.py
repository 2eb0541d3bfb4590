"""Guards on bench.py's artifact contract: the host-class stamp must
map the calibration bands exactly as BASELINE.md's round-12 pin table
documents them, or officials become un-adjudicable at face value."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_host_class_bands_match_baseline_table():
    b = _bench()
    # class A: the pin-era quiet band, pins apply verbatim
    assert b.host_class(0.055) == ("A", 1.0)
    assert b.host_class(0.070) == ("A", 1.0)
    # class B: the r10-r12 host-class floor, pins x 1.75
    assert b.host_class(0.0701) == ("B", 1.75)
    assert b.host_class(0.105) == ("B", 1.75)
    # class C: slow phase — no face-value column
    assert b.host_class(0.1051) == ("C", None)
    assert b.host_class(1.0) == ("C", None)


def test_host_class_b_scale_is_the_band_ceiling_ratio():
    b = _bench()
    # 1.75 == 0.105 / 0.060 — the ratio every prior adjudication used
    _, ceiling_b, scale_b = b.HOST_CLASS_BANDS[1]
    assert abs(scale_b - ceiling_b / 0.060) < 0.01

def test_quiet_calib_override_moves_class_bands_in_lockstep():
    """ADVICE r12: SPARK_GRAFT_QUIET_CALIB must shift the preflight
    gate AND the host-class bands together — one artifact can never
    mix a moved gate with the default A/B ceilings. Checked in a
    subprocess because QUIET_CALIB is read at import."""
    import json
    import subprocess
    import sys

    code = (
        "import importlib.util, json, os\n"
        f"spec = importlib.util.spec_from_file_location('bench', {os.path.join(REPO, 'bench.py')!r})\n"
        "b = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(b)\n"
        "print(json.dumps([b.host_class(0.055), b.host_class(0.074),"
        " b.host_class(0.076), b.QUIET_CALIB]))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_QUIET_CALIB="0.05")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env
    )
    assert out.returncode == 0, out.stderr
    a, b_, c, quiet = json.loads(out.stdout)
    assert quiet == 0.05
    # A ceiling = 0.05, B ceiling = 0.075: 0.055 is now class B,
    # 0.074 still B, 0.076 falls to C
    assert a[0] == "B" and b_[0] == "B" and c[0] == "C"
    # B's pin_scale tracks its moved ceiling over the pin-era calib
    assert abs(a[1] - 0.075 / 0.060) < 0.01

    # UPWARD override: a slow host re-lettered A must NOT get
    # face-value pins — the A multiplier scales with its moved
    # ceiling (review r13: with a fixed 1.0 an override of 0.12 would
    # compare a 0.11-calib host against pins set at 0.060-0.070)
    env = dict(os.environ, SPARK_GRAFT_QUIET_CALIB="0.12")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env
    )
    assert out.returncode == 0, out.stderr
    rows = json.loads(out.stdout)
    a_slow = rows[0]  # host_class(0.055)
    assert a_slow[0] == "A" and abs(a_slow[1] - 0.12 / 0.07) < 0.01


# Steady-state Spark-job counts for the bench extras at the bench SF
# (VERDICT r12 task 3): the "subtract jobs x sched_ms_per_job"
# adjudication rule assumes the job count itself never regresses
# silently. bench.py stamps `extra_jobs` in the artifact; this ONE
# table (bench extra names, r13 stamps — verified identical across
# three independent sessions) is the single source of truth for every
# job-count check below. Notable counts: bpe_train's 13 = corpus
# reduction + 6 merge rounds + lineage truncation; quantile_sketch's
# 12 includes the ADVICE-r12 lossless-capacity derivation count job;
# pq_ann's 12 halved from 24 in r13: pq_build persists the
# dictionary-sized refined codebook, so the corpus-scale training
# subtree executes once instead of three times (dsub probe, LUT
# broadcast, codes argmin).
# pagerank is the one BAND pin. When both the node table and the
# transition frame fit under broadcast_nodes_max (q152 at every bench
# SF), its default path holds both on the driver (graph.py): three setup
# jobs per mode (the stats job with both row counts, the node table,
# the transition table), after the builds of the two persisted frames,
# and no Spark job at all per iteration, so the count does not move
# with the iteration count. The operator's cache release means every
# bench pass rebuilds COLD (no cross-pass plan-cache reuse — the
# review-r13 hygiene fix). The rest of q152 — the pairs
# pre-materialization and its broadcast builds, run with AQE on before
# the two modes overlap on InheritableThreads, and the final write —
# could vary with shuffle partitioning, hence a band, not an exact pin;
# measured live, 17 at local[8] / 8 partitions (the test session) and
# at local[32] / 16 (bench.py's session), both at sf0.1. History: r13
# moved the count from 83-92 to ~48 (session.aqe_disabled inside the
# loop, so each eager per-iteration checkpoint was ONE job); the
# driver-side rank vector moved it to 35 (two jobs per iteration per
# mode); the driver-held transition frame to 17. The band catches
# GROSS job-structure regressions — a lost persist or duplicated
# action roughly doubles the count, a per-iteration job that comes
# back adds ten, runaway extra jobs overshoot the ceiling. Iteration
# count and semantics do not need the band: a skipped iteration
# changes VALUES and fails test_graph's exact-equality cases and the
# q152 oracle.

# r13 optimization note: line_dedup / knn_classify / repetition_profile
# / c4_filters each gained exactly +1 job — the conditional
# io.spread_narrow_scan rebalance of their one-row-group fixture scan
# (a no-op stage-wise at production row-group counts).
# r14 optimization notes:
# - bpe_train 13 -> 7: the per-round (word, freq) broadcast join is
#   gone (freq rides the char rows), dropping one broadcast-build job
#   per merge round (phrases.py).
# - bm25_search 13 -> 11 / hybrid_rrf 15 -> 13: corpus stats from one
#   narrow doc-level agg + per-term df as a window — two corpus
#   postings passes removed (retrieval.py).
# - incremental_probe 10 -> 8: the shingle-hash rows persist inside
#   _minhash_bands, so the signature pipeline runs once per side and
#   the steady-state pass reads the cache (dedup.py).
# io.local_frame notes (constant tables): a LocalRelation carries
# exact size statistics where a parallelize-fed LogicalRDD reported
# spark.sql.defaultSizeInBytes, so two plans lost exchanges.
# - phrase_search 18 -> 17: the positional verify join broadcasts the
#   checkpointed query-term postings (13 -> 11 exchanges at sf0.1;
#   two shuffle-map jobs become one broadcast job).
# - quantile_sketch 12 -> 10: each mode's percents cross join
#   broadcasts the percents table, and the (group, p) rank window
#   reuses the summary's group partitioning (8 -> 6 exchanges).
# - phrase_search 17 -> 6: the held plan (a few thousand query-term
#   postings at sf0.1, plus the anchors' postings times the phrase
#   lengths) is under retrieval._HELD_ROWS_MAX, so the call finishes
#   on the driver (retrieval.py). Its jobs: the
#   query-token collect, the kept stream's materialization, the two
#   stages of the per-term count (the stats job), the stream collect
#   and the sink write of the driver-built result. None depends on the
#   shuffle partitioning: measured 6 at local[32] / 16 (bench.py's
#   session) and at local[8] / 8 (the test session), both at sf0.1.
EXTRA_JOB_TABLE = {
    "fuzzy_probe_10x": 8,
    "contamination": 8,
    "pq_ann": 12,
    "sequence_pack": 3,
    "curation_pipeline": 8,
    "line_dedup": 6,
    "lm_quality": 9,
    "semdedup": 13,
    "incremental_probe": 8,
    "chunking": 1,
    "knn_classify": 4,
    "bpe_train": 7,
    "bm25_search": 11,
    "repetition_profile": 2,
    "winnow_pairs": 3,
    "script_profile": 1,
    "domain_rollup": 2,
    "phrase_search": 6,
    "c4_filters": 2,
    "hybrid_rrf": 13,
    "budget_select": 2,
    "media_decode": 4,
    "image_decode": 3,
    "quantile_sketch": 10,
}

# inclusive (lo, hi) job-count bands for the AQE-sensitive extras
EXTRA_JOB_BANDS = {
    "pagerank": (15, 19),
}

# job counts the r14 optimizations intentionally moved: committed
# bench artifacts stamped BEFORE round 14 carry the old values, so
# the artifact adjudication below overlays these when the newest
# stamped artifact predates the re-pin (the live probe above always
# asserts the CURRENT code's table).
PRE_R14_PINS = {
    "bpe_train": 13,
    "bm25_search": 13,
    "hybrid_rrf": 15,
    "incremental_probe": 10,
}

# job counts io.local_frame moved (notes above): the overlay for
# artifacts stamped up to r14, which predate it
PRE_LOCAL_FRAME_PINS = {
    "phrase_search": 18,
    "quantile_sketch": 12,
}

# the band before pagerank kept its rank vector on the driver (eager
# per-iteration checkpoints; BENCH_r14 reads 48): the overlay for
# artifacts stamped up to r14
PRE_DRIVER_RANKS_BANDS = {
    "pagerank": (42, 56),
}

# the extras BASELINE.md's multi-job note names — these get a LIVE
# probe (the artifact check below covers the rest at zero cost)
MULTI_JOB_EXTRAS = (
    "bpe_train",
    "quantile_sketch",
    "pagerank",
    "pq_ann",
    "curation_pipeline",
    "incremental_probe",
    "fuzzy_probe_10x",
    "media_decode",
    "phrase_search",
)


def test_multi_job_extras_are_all_covered_by_a_pin():
    """A future extra added to MULTI_JOB_EXTRAS but forgotten in both
    EXTRA_JOB_TABLE and EXTRA_JOB_BANDS would otherwise be measured
    and never asserted on (review r13) — the live probe must not pass
    vacuously."""
    uncovered = [
        n
        for n in MULTI_JOB_EXTRAS
        if n not in EXTRA_JOB_TABLE and n not in EXTRA_JOB_BANDS
    ]
    assert not uncovered, f"MULTI_JOB_EXTRAS without a pin: {uncovered}"


@pytest.mark.slow
def test_multi_job_extra_job_counts_are_pinned(spark, sf_dir):
    """Slow lane (~2 min on 4 cores: 8 extras x 4 sf0.1 passes) — the LIVE
    job-count probe of the current code. The default lane keeps the
    zero-cost artifact adjudication below; the live probe runs with
    `-m slow` and in every bench itself (extra_jobs stamps)."""
    import demy_spark.queries as _q

    # bench.py's own per-extra routine over the one extras table, at
    # the bench SF (the sf0.1 fixture beside the test one)
    bench_sf = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    time_extra, extras = _bench().time_extra, _q.bench_extras()
    got = {n: time_extra(spark, n, extras[n], bench_sf)[1] for n in MULTI_JOB_EXTRAS}
    exact = {n: v for n, v in got.items() if n in EXTRA_JOB_TABLE}
    assert exact == {n: EXTRA_JOB_TABLE[n] for n in exact}
    for n, (lo, hi) in EXTRA_JOB_BANDS.items():
        if n in got:
            assert lo <= got[n] <= hi, (n, got[n], (lo, hi))


def test_decode_bench_fixture_values_pinned(spark, sf_dir):
    """r13 §6 moved the decode extras' fixture payloads off the driver
    (createDataFrame rows → plan literals over a bare range). These
    aggregates pin that the rewiring preserved the workload exactly:
    512 WAVs + 512 BMFF containers (512 waveforms + 6 sampled frames
    each → 3584 rows) and 256 baseline + 256 progressive JPEGs all
    really decoded (real == rows, 512 × 64 × 64 × 3 px)."""
    import demy_spark.queries as _q

    m = _q.bench_media_decode(spark, sf_dir).collect()[0]
    assert (m["rows"], m["units"]) == (3584, 8230400)
    i = _q.bench_image_decode(spark, sf_dir).collect()[0]
    assert (i["rows"], i["real"], i["px"]) == (512, 512, 6291456)


def test_latest_bench_artifact_job_counts_match_table():
    """Adjudicate the FULL extra set from the newest committed bench
    artifact that carries `extra_jobs` (stamped since r13) — no Spark
    session needed, so every extra's job count is regression-guarded
    at zero test cost. Skips until the first stamped artifact lands."""
    import json
    import re

    import pytest

    stamped = []
    for f in os.listdir(REPO):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if m:
            art = json.load(open(os.path.join(REPO, f)))
            # the driver's committed artifacts nest the parsed JSON
            # line under 'parsed' (ADVICE r13: the top-level-only read
            # made this guard permanently skip)
            jobs = art.get("extra_jobs") or art.get("parsed", {}).get(
                "extra_jobs"
            )
            if jobs:
                stamped.append((int(m.group(1)), dict(jobs)))
    if not stamped:
        pytest.skip("no committed bench artifact carries extra_jobs yet")
    rnd, jobs = max(stamped)
    banded = {n: jobs.pop(n) for n in list(EXTRA_JOB_BANDS) if n in jobs}
    bands = dict(EXTRA_JOB_BANDS)
    expected = dict(EXTRA_JOB_TABLE)
    if rnd < 14:
        # pre-r14 artifacts were stamped before this round's re-pins
        expected.update({n: v for n, v in PRE_R14_PINS.items() if n in expected})
    if rnd <= 14:
        expected.update(
            {n: v for n, v in PRE_LOCAL_FRAME_PINS.items() if n in expected}
        )
        bands.update(PRE_DRIVER_RANKS_BANDS)
    assert jobs == expected
    for n, v in banded.items():
        lo, hi = bands[n]
        assert lo <= v <= hi, (n, v, (lo, hi))


def test_c8_artifact_compute_bound_extras_scale():
    """Low-core lane interpretation pin (VERDICT r13 task 8 /
    BASELINE.md round-14 note): the 8-core comparison carries signal
    only on the compute-bound extras — whenever a committed
    BENCH_rNN / BENCH_rNN_c8 artifact pair exists, their geomean
    8c/32c ratio must show "fewer cores is slower" (>= 1.05; r13
    pair: 1.47). Headline ratios are NOT asserted — at sf0.1 they sit
    at the latency floor and read ~1 by construction."""
    import json
    import math
    import re

    import pytest

    pairs = {}
    for f in os.listdir(REPO):
        m = re.fullmatch(r"BENCH_r(\d+)(_c8)?\.json", f)
        if not m:
            continue
        art = json.load(open(os.path.join(REPO, f)))
        extras = (art.get("parsed") or art).get("extra_queries")
        if extras:
            pairs.setdefault(int(m.group(1)), {})[
                "c8" if m.group(2) else "main"
            ] = extras
    complete = {r: v for r, v in pairs.items() if {"main", "c8"} <= set(v)}
    if not complete:
        pytest.skip("no committed BENCH_rNN / BENCH_rNN_c8 pair yet")
    _, v = max(complete.items())
    names = ("image_decode", "media_decode", "quantile_sketch", "pagerank")
    ratios = [v["c8"][n] / v["main"][n] for n in names if n in v["c8"]]
    assert ratios, "compute-bound extras missing from the c8 artifact"
    geomean = math.exp(sum(map(math.log, ratios)) / len(ratios))
    assert geomean >= 1.05, (ratios, geomean)
