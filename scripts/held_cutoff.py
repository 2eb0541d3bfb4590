"""Driver-held regimes at their size bounds, against the Spark regime
each replaces above the bound.

pagerank: ``graph.pagerank`` holds the transition frame on the driver
while it has at most ``broadcast_nodes_max`` rows, and runs a
per-iteration broadcast edge pass above that. The script ranks one
generated graph (SIZE random weighted edges over SIZE/10 nodes, so
nearly every edge is its own transition row) in one of the two
regimes and reports the whole 5-iteration call's wall per repeat, the
held pass's one-off collect and every edge pass's wall in the last
repeat.

phrase_search: ``retrieval.phrase_search`` collects the query-term
postings and finishes on the driver while its held plan has at most
``_HELD_ROWS_MAX`` rows (the postings plus each phrase's anchor
postings times its length), and runs its distributed plan above that.
The script searches one generated corpus (documents of 100 tokens
drawn from a 1000-word Zipf-like vocabulary, ``w{floor(1000 u^3)}``)
for 125 x FANOUT phrases of two or three words over the 125 most
frequent words, about half of all tokens, so the postings number about
SIZE. Each of those words anchors about FANOUT phrases (default 1). It
reports the exact postings count, the held plan's row count and the
wall of each call (query plus a noop-sink write) per repeat.

Both print one JSON line, with the peak RSS of the driver's Python
process and of its JVM, which local mode shares with the executors.

Usage:
    python scripts/held_cutoff.py pagerank held|broadcast SIZE
    python scripts/held_cutoff.py phrase_search held|distributed SIZE [FANOUT]

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

from demy_spark.functions.textstats import norm_tokens  # noqa: E402
from demy_spark.operators import graph, retrieval  # noqa: E402
from demy_spark.session import get_spark, owned  # noqa: E402

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


def _rss(spark) -> dict:
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {
        "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024,
        "jvm_peak_rss_mb": _peak_rss_mb(jvm),
    }


def pagerank(spark, mode: str, n_edges: int) -> dict:
    if mode not in ("held", "broadcast"):
        raise SystemExit("pagerank mode must be held|broadcast")
    n_nodes = n_edges // 10
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
    return {
        "mode": mode,
        "edges": n_edges,
        "nodes": n_nodes,
        "call_wall_s": [round(w, 2) for w in walls],
        "build_s": round(timings["build"], 3),
        "passes_s": [round(p, 3) for p in timings["passes"]],
        **_rss(spark),
        "ranks_head": [[r["node"], r["rank_fp"]] for r in head],
    }


def phrase_search(spark, mode: str, postings: int, fan_out: int = 1) -> dict:
    if mode not in ("held", "distributed"):
        raise SystemExit("phrase_search mode must be held|distributed")
    n_docs = postings // 50  # 100 tokens a document, half of them query words
    words = F.transform(
        F.sequence(F.lit(0), F.lit(99)),
        lambda p: F.concat(
            F.lit("w"),
            F.floor(
                F.pow(F.pmod(F.xxhash64("id", p), F.lit(1 << 24)) / float(1 << 24), 3)
                * 1000
            ).cast("string"),
        ),
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    ).cache()
    # phrase (a, r) steps r + 1 words from w{a}; its rarest word, the
    # anchor, is nearly always its last, so every word anchors about
    # fan_out phrases
    phrases = [
        (
            a * fan_out + r,
            " ".join(f"w{(a + j * (r + 1)) % 125}" for j in range(2 + (a + r) % 2)),
        )
        for a in range(125)
        for r in range(fan_out)
    ]
    queries = spark.createDataFrame(phrases, "qid long, qtext string").cache()
    rows = (
        docs.select(F.explode(norm_tokens(F.col("text"))).alias("w"))
        .where(F.col("w").isin([f"w{i}" for i in range(125)]))
        .count()
    )
    fan_outs = []
    phrases_of = retrieval._phrases

    def spy(qtok, words, df):
        out = phrases_of(qtok, words, df)
        fan_outs.append(out[2])
        return out

    retrieval._phrases = spy
    # held: any bound at or above the held plan's rows; distributed: 0
    retrieval._HELD_ROWS_MAX = 2**62 if mode == "held" else 0
    walls = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        with owned():
            out = retrieval.phrase_search(
                docs, "doc_id", "text", queries, "qid", "qtext"
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            out.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t)
        assert ("InMemoryTableScan" not in plan) == (mode == "held"), "wrong regime"
    return {
        "mode": mode,
        "docs": n_docs,
        "phrases": len(phrases),
        "postings": rows,
        "held_rows": rows + fan_outs[-1],
        "call_wall_s": [round(w, 2) for w in walls],
        **_rss(spark),
        "result_rows": out.count(),
    }


if __name__ == "__main__":
    argc = {"pagerank": (4,), "phrase_search": (4, 5)}
    if len(sys.argv) < 2 or len(sys.argv) not in argc.get(sys.argv[1], ()):
        raise SystemExit(__doc__)
    spark = get_spark("held_cutoff")
    run = pagerank if sys.argv[1] == "pagerank" else phrase_search
    print(json.dumps(run(spark, sys.argv[2], *map(int, sys.argv[3:]))))
    spark.stop()
