"""operators/graph.pagerank: integer fixed-point PageRank.

Every assertion is EXACT (== on BIGINTs) against an independent
pure-Python reference implementation of the documented recurrence —
the operator's whole point is that its integer arithmetic is
bit-replayable, so the tests hold it to equality, not tolerance.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from demy_spark.operators.graph import pagerank

SCALE = 10**12


def ref_pagerank(edges, nodes, *, iterations=5, damping_pct=85, scale=SCALE):
    """The documented recurrence, driver-side: exact Python bigints.
    Duplicate node rows follow the relational semantics: N counts
    rows, and every copy holds the same rank and feeds every out-edge
    of its node (so its floored per-edge terms count once per copy)."""
    agg: dict[tuple, int] = {}
    for s, t, w in edges:
        if s is None or t is None or w is None or w <= 0:
            continue
        agg[(s, t)] = agg.get((s, t), 0) + w
    tot: dict[object, int] = {}
    for (s, _), w in agg.items():
        tot[s] = tot.get(s, 0) + w
    nodes = [v for v in nodes if v is not None]
    copies = Counter(nodes)
    n = len(nodes)
    if n == 0:
        return {}
    d = damping_pct
    r = {v: scale // n for v in nodes}
    dangling = [v for v in nodes if v not in tot]
    for _ in range(iterations):
        mass = sum(r[v] for v in dangling)
        c: dict[object, int] = {}
        for (s, t), w in agg.items():
            if s in r:
                c[t] = c.get(t, 0) + copies[s] * ((r[s] * w) // tot[s])
        r = {
            v: ((100 - d) * scale) // (100 * n)
            + (d * (mass // n)) // 100
            + (d * c.get(v, 0)) // 100
            for v in nodes
        }
    return r


# broadcast_nodes_max settings: the default (node table and transition
# frame both held on the driver) and 0 (the distributed path every graph
# above the bound takes). The middle regime (node table held, a
# broadcast edge pass per iteration) needs a bound between the two row
# counts, so ``paths`` adds it per case.
PATHS = ({}, {"broadcast_nodes_max": 0})


def paths(edges, nodes, weighted=True):
    """PATHS, plus a bound of the node-row count whenever the case has
    more transition rows (distinct (src, dst) of the routable edges)
    than node rows, so the broadcast edge pass runs too."""
    live = [v for v in nodes if v is not None]
    trans = {
        (e[0], e[1])
        for e in edges
        if e[0] is not None
        and e[1] is not None
        and (not weighted or (e[2] is not None and e[2] > 0))
    }
    if live and len(trans) > len(live):
        return (*PATHS, {"broadcast_nodes_max": len(live)})
    return PATHS


def run(spark, edges, nodes, *, weighted=True, **kw):
    """Ranks by node. Unless ``kw`` picks a path, runs every path of
    ``paths`` and asserts they agree exactly."""
    schema = "s long, t long, w long" if weighted else "s long, t long"
    rows = edges if edges else []
    edf = spark.createDataFrame(rows, schema)
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    got = []
    cases = paths(rows, nodes, weighted)
    for path in [{}] if "broadcast_nodes_max" in kw else cases:
        out = pagerank(
            edf,
            ndf,
            src="s",
            dst="t",
            node_col="node",
            weight_col="w" if weighted else None,
            **path,
            **kw,
        )
        got.append({r["node"]: r["rank_fp"] for r in out.collect()})
    assert all(g == got[0] for g in got), got
    return got[0]


def test_two_node_cycle_is_uniform(spark):
    # symmetric graph -> the stationary point IS the uniform start,
    # minus only floor losses; both nodes must be exactly equal
    got = run(spark, [(1, 2, 1), (2, 1, 1)], [1, 2])
    assert got == ref_pagerank([(1, 2, 1), (2, 1, 1)], [1, 2])
    assert got[1] == got[2]


def test_star_sink_accumulates_and_redistributes(spark):
    # 1,2,3 -> 4: node 4 is dangling, so its mass recycles uniformly;
    # it must still end far above the spokes, which stay symmetric
    edges = [(1, 4, 1), (2, 4, 1), (3, 4, 1)]
    got = run(spark, edges, [1, 2, 3, 4])
    assert got == ref_pagerank(edges, [1, 2, 3, 4])
    assert got[1] == got[2] == got[3] < got[4]


def test_dangling_mass_is_conserved_not_leaked(spark):
    # with every dst inside the node set, total rank can drift below
    # scale ONLY by floor losses: <= iterations * (N + 2) micro-units
    edges = [(1, 4, 1), (2, 4, 1), (3, 4, 1), (4, 1, 2)]
    iters, n = 7, 4
    got = run(spark, edges, [1, 2, 3, 4], iterations=iters)
    assert got == ref_pagerank(edges, [1, 2, 3, 4], iterations=iters)
    assert SCALE - iters * (n + 2) <= sum(got.values()) <= SCALE


def test_parallel_edges_equal_explicit_weights(spark):
    # multiplicity aggregation == a pre-aggregated weight column
    multi = run(spark, [(1, 2, 1), (1, 2, 1), (1, 3, 1), (2, 1, 1)], [1, 2, 3])
    weighted = run(spark, [(1, 2, 2), (1, 3, 1), (2, 1, 1)], [1, 2, 3])
    unweighted = run(
        spark, [(1, 2), (1, 2), (1, 3), (2, 1)], [1, 2, 3], weighted=False
    )
    assert multi == weighted == unweighted


def test_edges_to_outside_nodes_leak_rank_exactly(spark):
    # dst 99 is not a node: its share vanishes (documented), and src
    # rows outside the node frame contribute nothing — both replayed
    # by the reference, which keys strictly off the node set
    edges = [(1, 99, 1), (99, 2, 5), (2, 1, 1)]
    got = run(spark, edges, [1, 2])
    assert got == ref_pagerank(edges, [1, 2])


def test_null_and_nonpositive_edges_are_dropped(spark):
    dirty = [(1, None, 1), (None, 2, 1), (1, 2, None), (1, 2, 0), (1, 2, -3)]
    clean = [(2, 1, 1)]
    assert run(spark, dirty + clean, [1, 2]) == run(spark, clean, [1, 2])


def test_null_node_ids_are_dropped(spark):
    edf = spark.createDataFrame([(1, 2, 1)], "s long, t long, w long")
    ndf = spark.createDataFrame([(1,), (2,), (None,)], "node long")
    for path in PATHS:
        out = pagerank(
            edf, ndf, src="s", dst="t", node_col="node", weight_col="w", **path
        )
        got = {r["node"]: r["rank_fp"] for r in out.collect()}
        assert set(got) == {1, 2}
        assert got == ref_pagerank([(1, 2, 1)], [1, 2])


def test_empty_edges_is_all_dangling_uniform(spark):
    got = run(spark, [], [1, 2, 3])
    assert got == ref_pagerank([], [1, 2, 3])
    assert len(set(got.values())) == 1


def test_empty_nodes_returns_empty(spark):
    edf = spark.createDataFrame([(1, 2, 1)], "s long, t long, w long")
    ndf = spark.createDataFrame([], "node long")
    for path in PATHS:
        out = pagerank(
            edf, ndf, src="s", dst="t", node_col="node", weight_col="w", **path
        )
        assert out.columns == ["node", "rank_fp"]
        assert out.count() == 0


def test_zero_iterations_returns_uniform_init(spark):
    got = run(spark, [(1, 2, 1)], [1, 2, 3], iterations=0)
    assert got == {1: SCALE // 3, 2: SCALE // 3, 3: SCALE // 3}


def test_damping_extremes(spark):
    edges = [(1, 2, 1), (2, 3, 1), (3, 1, 1)]
    # d=0: pure teleport — every node is scale div (100*n) * 100-ish,
    # exactly the reference either way
    for d in (0, 100):
        got = run(spark, edges, [1, 2, 3], damping_pct=d)
        assert got == ref_pagerank(edges, [1, 2, 3], damping_pct=d)


def test_validation_errors(spark):
    edf = spark.createDataFrame([(1, 2, 1)], "s long, t long, w long")
    ndf = spark.createDataFrame([(1,)], "node long")
    for kw in (
        {"damping_pct": 101},
        {"iterations": -1},
        {"scale": 0},
        {"lineage": "nope"},
        {"lineage": "lazy"},
    ):
        with pytest.raises(ValueError):
            pagerank(
                edf, ndf, src="s", dst="t", node_col="node", weight_col="w", **kw
            )


def test_duplicate_node_rows_follow_relational_semantics(spark):
    # duplicate node ids are NOT deduplicated (garbage-in contract):
    # each copy holds its own rank and each copy's rank feeds every
    # out-edge — exactly what the unrolled SQL replay computes. Pin
    # the Spark result against a reference run on the EXPANDED frame.
    edf = spark.createDataFrame([(1, 2, 1), (2, 1, 1)], "s long, t long, w long")
    ndf = spark.createDataFrame([(1,), (1,), (2,)], "node long")
    rows, shuffled = (
        sorted(
            (r["node"], r["rank_fp"])
            for r in pagerank(
                edf, ndf, src="s", dst="t", node_col="node", weight_col="w", **path
            ).collect()
        )
        for path in PATHS
    )
    assert rows == shuffled
    # N counts ROWS (3); node 1's two copies stay identical; node 2
    # receives BOTH copies' contributions
    n, d = 3, 85
    r = {("1a"): SCALE // n, ("1b"): SCALE // n, ("2"): SCALE // n}
    for _ in range(5):
        c2 = (r["1a"] * 1) // 1 + (r["1b"] * 1) // 1
        c1 = (r["2"] * 1) // 1
        base = (15 * SCALE) // (100 * n)
        r = {
            "1a": base + (d * c1) // 100,
            "1b": base + (d * c1) // 100,
            "2": base + (d * c2) // 100,
        }
    assert rows == sorted(
        [(1, r["1a"]), (1, r["1b"]), (2, r["2"])]
    )


def test_randomized_graphs_match_reference_exactly(spark):
    # 6 seeded random multigraphs (mixed density, weights, dangling
    # nodes and out-of-node edges) — the invariant sweep: Spark ==
    # pure-Python bigint reference, exact equality on every node
    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(3, 14)
        nodes = list(range(n))
        m = rng.randint(0, 4 * n)
        edges = [
            (
                rng.randrange(n + 2),  # may fall outside the node set
                rng.randrange(n + 2),
                rng.randint(1, 9),
            )
            for _ in range(m)
        ]
        iters = rng.randint(1, 6)
        got = run(spark, edges, nodes, iterations=iters)
        assert got == ref_pagerank(edges, nodes, iterations=iters), (
            seed,
            edges,
        )


def test_plan_has_no_cartesian_and_broadcasts_mass(spark):
    # the distributed path's 1-row dangling-mass aggregate must enter
    # as a broadcast nested-loop join, never a CartesianProduct; the
    # per-iteration rank join must be an equi-join
    def plan_of(edges):
        edf = spark.createDataFrame(edges, "s long, t long, w long")
        ndf = spark.createDataFrame([(1,), (2,), (3,)], "node long")
        out = pagerank(
            edf,
            ndf,
            src="s",
            dst="t",
            node_col="node",
            weight_col="w",
            iterations=2,
            lineage="keep",  # keep the iterated plan inspectable
            broadcast_nodes_max=0,  # the distributed path builds this plan
        )
        return out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )

    # node 3 is a sink: the 1-row mass aggregate must enter as a
    # broadcast nested-loop join (each un-checkpointed iteration
    # re-embeds the previous one's, so the count grows with lineage —
    # presence, not count, is the pin), and never a CartesianProduct
    dangling = plan_of([(1, 2, 1), (2, 1, 1), (1, 3, 1)])
    assert "CartesianProduct" not in dangling
    assert "BroadcastNestedLoopJoin" in dangling
    # rank/contrib/node joins are equi-joins (hash or sort-merge)
    assert "Join" in dangling.replace("BroadcastNestedLoopJoin", "")
    # no sink -> the mass branch is exactly zero and must be SKIPPED:
    # no nested-loop join of any kind in the whole iterated plan
    no_dangling = plan_of([(1, 2, 1), (2, 3, 1), (3, 1, 1)])
    assert "CartesianProduct" not in no_dangling
    assert "BroadcastNestedLoopJoin" not in no_dangling


def test_rank_column_is_bigint(spark):
    edf = spark.createDataFrame([(1, 2, 1)], "s long, t long, w long")
    ndf = spark.createDataFrame([(1,), (2,)], "node long")
    out = pagerank(edf, ndf, src="s", dst="t", node_col="node", weight_col="w")
    assert dict(out.dtypes)["rank_fp"] == "bigint"


def test_broadcast_and_shuffle_paths_agree_exactly(spark):
    """broadcast_nodes_max picks where the node state lives, never
    the result: the default driver-held ranks and the distributed path
    (broadcast_nodes_max=0) must produce identical BIGINT ranks, both
    equal to the reference recurrence."""
    random.seed(13)
    edges = [
        (random.randrange(12), random.randrange(12), random.randrange(1, 4))
        for _ in range(40)
    ]
    nodes = list(range(12))
    a = run(spark, edges, nodes)
    b = run(spark, edges, nodes, broadcast_nodes_max=0)
    assert a == b == ref_pagerank(edges, nodes)


def test_driver_path_is_one_edge_pass_per_iteration_and_leaves_no_blocks(spark):
    """The default path holds the rank vector AND the transition frame
    on the driver when both fit: after three setup jobs (the stats job
    with both row counts, the node table, the transition table), an
    iteration runs no Spark job, so the call's job count does not
    depend on ``iterations``, and the call releases everything it
    persisted. A seeded multigraph with sinks, duplicate node rows and
    out-of-node edges, large enough that both tables come back in
    several Arrow batches; the default path, the distributed path and
    the reference must agree exactly."""
    rng = random.Random(152)
    n, iters = 5000, 4
    sinks = set(rng.sample(range(n), 250))
    nodes = list(range(n)) + rng.sample(range(n), 60)  # 60 duplicate rows
    edges = [
        (s, rng.randrange(n + 100), rng.randint(1, 5))  # dst may be no node
        for s in (rng.randrange(n + 100) for _ in range(40_000))
        if s not in sinks
    ]
    edf = spark.createDataFrame(edges, "s long, t long, w long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")

    def call(**kw):
        return pagerank(
            edf, ndf, src="s", dst="t", node_col="node", weight_col="w", **kw
        )

    sc = spark.sparkContext
    jsc, cache = sc._jsc, spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    held = set(jsc.getPersistentRDDs().keySet().toArray())

    def jobs_of(k):
        group = f"pagerank-driver-path-{k}"
        sc.setJobGroup(group, "pagerank driver path")
        try:
            rows = call(iterations=k).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), rows

    jobs_one, _ = jobs_of(1)
    jobs, rows = jobs_of(iters)
    assert jobs == jobs_one, (jobs, jobs_one)
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= held
    assert cache.isEmpty()

    assert len(rows) == len(nodes)
    got = {r["node"]: r["rank_fp"] for r in rows}
    shuffled = {
        r["node"]: r["rank_fp"]
        for r in call(iterations=iters, broadcast_nodes_max=0).collect()
    }
    assert got == shuffled == ref_pagerank(edges, nodes, iterations=iters)


def test_three_regimes_agree_with_reference(spark):
    """broadcast_nodes_max bounds every table the driver holds, so one
    graph runs in all three regimes: both tables held (the default),
    node rows held but transition rows over the bound (a per-iteration
    broadcast pass), and nothing held (0). Int nodes with duplicate
    rows over long edges, one src and one dst beyond the int range (they
    pair with no node, as in Spark's join); all three equal the
    reference."""
    nodes = [1, 2, 3, 4, 5, 6, 2, 5]  # 6 is a sink; 2 and 5 twice
    edges = [
        (1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 4, 3), (3, 1, 1), (3, 5, 1),
        (4, 1, 2), (4, 6, 1), (5, 1, 1), (5, 2, 4), (5, 6, 1), (2, 2**40, 5),
        (2**40, 3, 2), (1, 99, 1),
    ]
    assert len({(s, t) for s, t, _ in edges}) > len(nodes)  # the middle regime
    edf = spark.createDataFrame(edges, "s long, t long, w long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "node int")
    want = ref_pagerank(edges, nodes)
    for bound in (4_000_000, len(nodes), 0):
        out = pagerank(
            edf, ndf, src="s", dst="t", node_col="node", weight_col="w",
            broadcast_nodes_max=bound,
        )
        rows = out.collect()
        assert len(rows) == len(nodes), bound
        assert {r["node"]: r["rank_fp"] for r in rows} == want, bound


@pytest.mark.parametrize(
    "nodes, edges, kw, bounds",
    [
        # dangling mass 3 * 2**62 (three isolated nodes), at the default
        # damping and at 1%, where no later product overflows either
        ([1, 2, 3], [], {"damping_pct": 85}, (4_000_000, 0)),
        ([1, 2, 3], [], {"damping_pct": 1}, (4_000_000, 0)),
        # per-dst sum: node 3 receives 2**62 twice (terms fit, sum not)
        (
            [1, 2, 3],
            [(1, 3, 1), (2, 3, 1), (3, 1, 1), (3, 2, 1)],
            {"damping_pct": 1},
            (4_000_000, 3, 0),
        ),
        # per-edge product 2**62 * 4
        ([1, 2], [(1, 2, 4), (2, 1, 1)], {"damping_pct": 1}, (4_000_000, 0)),
    ],
    ids=["dangling-mass", "dangling-mass-d1", "per-dst-sum", "per-edge-product"],
)
def test_overflow_raises_on_every_path(spark, nodes, edges, kw, bounds):
    """Ranks are exact int64: a rank term past 2**63 raises on every
    path, as Spark's ANSI BIGINT does, instead of wrapping (Arrow's
    ``sum`` wraps silently, so every driver-side sum is checked). Spark
    raises ARITHMETIC_OVERFLOW (wrapped when a broadcast build fails),
    the driver-side arithmetic an Arrow overflow error."""
    edf = spark.createDataFrame(edges, "s long, t long, w long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    for bound in bounds:
        with pytest.raises(Exception, match="(?i)overflow"):
            pagerank(
                edf, ndf, src="s", dst="t", node_col="node", weight_col="w",
                scale=2**62, n_nodes=1, iterations=1, broadcast_nodes_max=bound,
                **kw,
            ).collect()


def test_int_nodes_over_long_edges_agree_on_both_paths(spark):
    # the driver path compares keys in the node column's type: a long
    # dst beyond the int range matches no node, as in Spark's join.
    # String nodes over long edges join as Spark coerces them ('001'
    # meets 1) on both paths.
    edges = [(1, 2, 1), (2, 3, 2), (3, 1, 1), (2, 2**40, 5)]
    edf = spark.createDataFrame(edges, "s long, t long, w long")
    want = ref_pagerank(edges, [1, 2, 3])
    for nodes, ddl in (([1, 2, 3], "node int"), (["001", "2", "3"], "node string")):
        ndf = spark.createDataFrame([(v,) for v in nodes], ddl)

        def ranks(**kw):
            out = pagerank(
                edf, ndf, src="s", dst="t", node_col="node", weight_col="w", **kw
            )
            assert dict(out.dtypes)["node"] == ddl.split()[1]
            return {int(r["node"]): r["rank_fp"] for r in out.collect()}

        assert ranks() == ranks(broadcast_nodes_max=0) == want, ddl


def test_struct_node_ids_take_the_distributed_path(spark):
    # Arrow can neither join nor look up nested keys, so struct node
    # ids rank where Spark joins them, equal to the reference
    edges = [(1, 2, 1), (2, 3, 2), (3, 1, 1), (1, 3, 1)]
    edf = spark.createDataFrame(edges, "s long, t long, w long").select(
        *(F.struct(F.col(c).alias("h")).alias(c) for c in ("s", "t")), "w"
    )
    ndf = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "h long").select(
        F.struct("h").alias("node")
    )
    out = pagerank(edf, ndf, src="s", dst="t", node_col="node", weight_col="w")
    got = {r["node"]["h"]: r["rank_fp"] for r in out.collect()}
    assert got == ref_pagerank(edges, [1, 2, 3, 4])


def test_graph_above_the_bound_never_collects_its_node_table(spark, monkeypatch):
    """Both row counts are read before anything is collected: a graph
    with more node rows than broadcast_nodes_max takes the distributed
    path without shipping its node table to the driver, and one whose
    transition rows exceed it never ships its transition frame."""
    cls = type(spark.range(1))
    collected = []
    to_arrow = cls.toArrow

    def spy(df):
        table = to_arrow(df)
        collected.append(table.column_names)
        return table

    monkeypatch.setattr(cls, "toArrow", spy)
    rng = random.Random(7)
    edges = [
        (rng.randrange(12), rng.randrange(12), rng.randint(1, 3)) for _ in range(40)
    ]
    nodes = list(range(12))
    assert run(spark, edges, nodes, broadcast_nodes_max=11) == ref_pagerank(
        edges, nodes
    )
    assert collected == []
    # at the bound the node table comes to the driver, once; the
    # transition frame, above it, never does
    trans = ["_s_", "_d_", "_w_", "_tot_"]
    assert len({(s, t) for s, t, _ in edges}) > 12
    assert run(spark, edges, nodes, broadcast_nodes_max=12) == ref_pagerank(
        edges, nodes
    )
    assert collected.count(["_v_", "_out_"]) == 1
    assert trans not in collected
    # under the default bound both tables come to the driver, once each
    collected.clear()
    assert run(spark, edges, nodes, broadcast_nodes_max=4_000_000) == ref_pagerank(
        edges, nodes
    )
    assert collected == [["_v_", "_out_"], trans]


def test_iteration_conf_restores_aqe_and_refcounts(spark):
    """pagerank's AQE hold (session.aqe_disabled, r13) pins AQE off
    only while held and restores the caller's value exactly once — the
    inner exit of a nested (concurrent-caller) hold must NOT restore
    early, which is what makes q152's overlapped pagerank modes safe."""
    from demy_spark.session import aqe_disabled

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        with aqe_disabled(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            with aqe_disabled(spark):
                assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_iterative_operators_restore_aqe_for_later_queries(spark):
    """Blast-radius fence (VERDICT r13 task 7): aqe_disabled is
    session-global WHILE HELD, so every public operator that holds it
    must have returned it to the caller's value by the time the next
    (non-iterative) query plans — a query issued after any of these
    EAGER calls must see AQE exactly as the caller set it."""
    from demy_spark.operators.dedup import assign_clusters
    from demy_spark.operators.graph import pagerank

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        nodes = spark.createDataFrame([(1,), (2,), (3,)], "v long")
        pagerank(
            edges, nodes, src="src", dst="dst", node_col="v", iterations=2
        ).collect()
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_a long, doc_b long"
        )
        ids = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
        assign_clusters(pairs, ids, "doc_id", max_iters=2).collect()
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
