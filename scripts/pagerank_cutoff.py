"""PageRank driver regimes at the size bound: held pass vs broadcast pass.

``graph.pagerank`` holds the transition frame on the driver while it
has at most ``broadcast_nodes_max`` rows, and runs a per-iteration
broadcast edge pass above that. This script ranks one generated graph
(EDGES random weighted edges over EDGES/10 nodes, so nearly every edge
is its own transition row) in one of the two regimes, in a fresh
process, and prints one JSON line: the whole 5-iteration call's wall
per repeat, the held pass's one-off collect, every edge pass's wall in
the last repeat, and the peak RSS of the driver's Python process and
of its JVM.

Usage:
    python scripts/pagerank_cutoff.py held|broadcast EDGES

Run each regime in its own process, so that each peak RSS is its own.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from demy_spark.operators import graph  # noqa: E402
from demy_spark.session import get_spark  # noqa: E402

REPEATS, ITERATIONS = 4, 5


def _timed(factory, timings):
    """``factory`` (an edge-pass builder) with its build and every pass
    it returns timed into ``timings``."""

    def make(trans, node_type):
        t = time.perf_counter()
        edge_pass = factory(trans, node_type)
        timings["build"] = time.perf_counter() - t

        def timed_pass(ranks):
            t = time.perf_counter()
            out = edge_pass(ranks)
            timings["passes"].append(time.perf_counter() - t)
            return out

        return timed_pass

    return make


def _peak_rss_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) // 1024
    return -1


def main(mode: str, n_edges: int) -> dict:
    if mode not in ("held", "broadcast"):
        raise SystemExit("mode must be held|broadcast")
    n_nodes = n_edges // 10
    spark = get_spark("pagerank_cutoff")
    timings: dict = {"passes": []}
    graph._held_pass = _timed(graph._held_pass, timings)
    graph._broadcast_pass = _timed(graph._broadcast_pass, timings)

    def h(seed):
        return F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_nodes))

    edges = spark.range(n_edges).select(
        h(1).alias("s"), h(2).alias("t"), (1 + h(3) % 5).alias("w")
    ).cache()
    nodes = spark.range(n_nodes).withColumnRenamed("id", "node").cache()
    edges.count(), nodes.count()
    # held: both tables fit the default bound; broadcast: only the nodes
    bound = 4_000_000 if mode == "held" else n_nodes
    walls = []
    for _ in range(REPEATS):
        timings["passes"].clear()
        t = time.perf_counter()
        out = graph.pagerank(
            edges, nodes, src="s", dst="t", node_col="node", weight_col="w",
            iterations=ITERATIONS, broadcast_nodes_max=bound,
        )
        out.count()
        walls.append(time.perf_counter() - t)
        assert len(timings["passes"]) == ITERATIONS, "the regime did not run"
    head = out.orderBy("node").limit(3).collect()
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    res = {
        "mode": mode,
        "edges": n_edges,
        "nodes": n_nodes,
        "call_wall_s": [round(w, 2) for w in walls],
        "build_s": round(timings["build"], 3),
        "passes_s": [round(p, 3) for p in timings["passes"]],
        "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
        "jvm_peak_rss_mb": _peak_rss_mb(jvm),
        "ranks_head": [[r["node"], r["rank_fp"]] for r in head],
    }
    spark.stop()
    return res


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(json.dumps(main(sys.argv[1], int(sys.argv[2]))))
