"""Optimization measurement harness.

Times queries and bench extras with bench.py's own routines on the
bench session config: registry queries with the headline methodology
(two warm-up rounds, then min of three timed rounds), bench extras
(``queries.bench_extras``) with the per-extra one (clear cache, one
warm-up, min of three, jobs of the last pass). Prints one line per
name with its plan digest (perfbench.probe.plan_digest over the
executed plan), then one JSON line.

Usage:
    python scripts/measure.py [name ...]

With no names: all headline queries.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as _b  # noqa: E402
from demy_spark import queries as _q  # noqa: E402
from demy_spark.session import get_spark  # noqa: E402
from perfbench.probe import plan_digest  # noqa: E402


def main() -> None:
    names = sys.argv[1:] or sorted(_q.headline_queries())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "demy_spark_measure",
        master=f"local[{cpus}]",
        shuffle_partitions=min(cpus, 16),
    )
    extras = _q.bench_extras()
    fns = {n: extras[n] if n in extras else _q.REGISTRY[n].fn for n in names}

    queries = {n: fn for n, fn in fns.items() if n not in extras}
    _b.warm_up(spark, queries, sf_dir)
    results = _b.time_rounds(spark, queries, sf_dir)
    jobs: dict[str, int] = {}
    for n, fn in fns.items():
        if n in extras:
            results[n], jobs[n] = _b.time_extra(spark, n, fn, sf_dir)

    for n, fn in fns.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        stamp = f" (jobs {jobs[n]})" if n in jobs else ""
        print(f"{n}: {results[n]}{stamp} {json.dumps(plan_digest(plan))}", flush=True)

    print(
        json.dumps(
            {
                "results": results,
                "extra_jobs": jobs,
                "total": round(sum(results.values()), 3),
                # host-state stamps: the data-bound calib drifts
                # session to session, so every reading carries its own
                "data_calib_sec": _b.data_probe(spark, sf_dir),
                "sched_ms_per_job": _b.sched_probe(spark),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
