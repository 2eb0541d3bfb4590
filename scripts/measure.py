"""Optimization measurement harness.

Times individual queries/extras with the bench's exact methodology
(noop sink, 2 warm-up passes, min-of-3) on the bench session config,
and writes `.explain("formatted")` to plans/<round>/<name>_<tag>.txt.

Usage:
    python scripts/measure.py <round> <tag> [name ...]

<round> names the plan directory and the app (e.g. "r14"). With no
names: all headline queries. <tag> is "before"/"after" (the plan
filename suffix).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from demy_spark.session import get_spark  # noqa: E402
from demy_spark import queries as _q  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BENCH_EXTRAS = {
    "fuzzy_probe_10x": lambda: _q.bench_fuzzy_probe_10x,
    "media_decode": lambda: _q.bench_media_decode,
    "image_decode": lambda: _q.bench_image_decode,
    # bench.py extras short names → registry entries
    "contamination": lambda: _q.REGISTRY["q86_contamination_check"].fn,
    "pq_ann": lambda: _q.REGISTRY["q89_pq_ann_topk"].fn,
    "sequence_pack": lambda: _q.REGISTRY["q94_sequence_pack"].fn,
    "curation_pipeline": lambda: _q.REGISTRY["q93_curation_pipeline"].fn,
    "line_dedup": lambda: _q.REGISTRY["q96_line_dedup"].fn,
    "lm_quality": lambda: _q.REGISTRY["q98_lm_quality"].fn,
    "semdedup": lambda: _q.REGISTRY["q100_semdedup"].fn,
    "incremental_probe": lambda: _q.REGISTRY["q101_incremental_dedup"].fn,
    "chunking": lambda: _q.REGISTRY["q111_chunk_documents"].fn,
    "knn_classify": lambda: _q.REGISTRY["q114_knn_classify"].fn,
    "bpe_train": lambda: _q.REGISTRY["q115_bpe_train"].fn,
    "bm25_search": lambda: _q.REGISTRY["q117_bm25_search"].fn,
    "repetition_profile": lambda: _q.REGISTRY["q124_repetition_profile"].fn,
    "winnow_pairs": lambda: _q.REGISTRY["q127_winnow_pairs"].fn,
    "script_profile": lambda: _q.REGISTRY["q130_script_profile"].fn,
    "domain_rollup": lambda: _q.REGISTRY["q131_domain_rollup"].fn,
    "phrase_search": lambda: _q.REGISTRY["q134_phrase_search"].fn,
    "c4_filters": lambda: _q.REGISTRY["q133_c4_filters"].fn,
    "hybrid_rrf": lambda: _q.REGISTRY["q138_hybrid_rrf"].fn,
    "budget_select": lambda: _q.REGISTRY["q140_budget_select"].fn,
    "quantile_sketch": lambda: _q.REGISTRY["q151_quantile_sketch"].fn,
    "pagerank": lambda: _q.REGISTRY["q152_supplier_pagerank"].fn,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    plans_dir = os.path.join(ROOT, "plans", rnd)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        f"demy_spark_measure_{rnd}",
        master=f"local[{cpus}]",
        shuffle_partitions=min(cpus, 16),
    )
    sc = spark.sparkContext

    if not names:
        names = sorted(_q.headline_queries())

    os.makedirs(plans_dir, exist_ok=True)
    results: dict[str, float] = {}
    for name in names:
        if name in BENCH_EXTRAS:
            fn = BENCH_EXTRAS[name]()
        else:
            fn = _q.REGISTRY[name].fn
        spark.catalog.clearCache()
        sc.setJobDescription(f"warmup:{name}")
        for _ in range(2):
            force(fn(spark, sf_dir))
        # capture the formatted plan once (post-warm-up; AQE initial plan)
        df = fn(spark, sf_dir)
        try:
            plan_txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception:
            import io as _io
            import contextlib

            buf = _io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan_txt = buf.getvalue()
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan_txt)
        best = float("inf")
        for i in range(3):
            if i == 2:
                sc.setJobGroup(f"measure-{name}", name)
            else:
                sc.setJobDescription(f"timed:{name}:{i}")
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        njobs = len(sc.statusTracker().getJobIdsForGroup(f"measure-{name}"))
        results[name] = round(best, 3)
        print(f"{name}: {results[name]} (jobs {njobs})", flush=True)

    import bench as _b

    print(
        json.dumps(
            {
                "round": rnd,
                "tag": tag,
                "results": results,
                "total": round(sum(results.values()), 3),
                # host-state stamps: the sandbox shares a hypervisor and
                # the data-bound calib drifts 0.11-0.27 session to
                # session — every reading in this round's notes carries
                # its own calibration
                "data_calib_sec": _b.data_probe(spark, sf_dir),
                "sched_ms_per_job": _b.sched_probe(spark),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
