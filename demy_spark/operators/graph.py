"""Link-graph centrality: integer fixed-point PageRank.

Weighted PageRank over an edge list, computed ENTIRELY in integer
micro-units: ranks are BIGINTs in units of 1/``scale``, every division
is integer floor division (``div``), and every aggregate is a sum of
exact integers — so the result is independent of partial-aggregation
order and bit-replayable by any SQL engine. This is the q01
exact-cents discipline applied to an iterative algorithm: the rare
case of a fixed-point iteration under an exact cross-engine oracle
(q152 replays all iterations, including the dangling-mass
redistribution, in unrolled DuckDB CTEs).

No reference counterpart (the reference has no graph operators — its
closest relative is the iterative label propagation this repo already
ships in operators/dedup.assign_clusters); LLM-pipeline extension:
link-graph influence is the published recipe for crawl-frontier
prioritization and URL/host-level quality weighting of web corpora
(Common Crawl publishes host ranks from exactly this family —
PageRank / harmonic centrality over the host link graph).

Scale shape (the 100 TB contract):

- the transition frame (edge, weight, out-total) is built with two
  hash aggregations and persisted ONCE — each iteration reuses it
  instead of re-running the upstream edge derivation;
- one iteration = one equi-join (ranks ⋈ transition on src) + one
  hash aggregation by dst + a broadcast of the 1-row dangling-mass
  aggregate (SKIPPED outright when one up-front probe shows the graph
  has no dangling node — the term is exactly zero then). No
  driver-side state beyond that probe's two integers;
- the rank frame is lazily ``localCheckpoint``-ed per iteration (the
  assign_clusters idiom) so lineage stays flat in ``iterations``;
- dangling mass is handled exactly (redistributed uniformly), so
  sinks — crawl frontiers are full of them — do not leak rank.

Overflow contract: per-edge terms compute ``rank * weight`` before
the floor division, so ``scale * max(weight)`` must stay below 2^63
(with the default ``scale`` of 1e12 that allows aggregated edge
weights up to ~9.2e6; pass a smaller ``scale`` for heavier
multigraphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demy_spark.session import aqe_disabled

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    src: str,
    dst: str,
    node_col: str,
    weight_col: str | None = None,
    damping_pct: int = 85,
    iterations: int = 5,
    scale: int = 10**12,
    n_nodes: int | None = None,
    lineage: str = "eager",
    broadcast_nodes_max: int = 4_000_000,
) -> DataFrame:
    """Integer fixed-point PageRank of ``nodes`` over ``edges``.

    Parallel edges are aggregated (summing ``weight_col``, or counted
    when it is None — weights are cast to BIGINT, the fixed-point
    contract); edges with a NULL endpoint or a non-positive weight are
    dropped (they cannot route mass), as are NULL node ids (a NULL id
    cannot be joined to — the _docw identity-hygiene rationale).
    Edges whose src is not in ``nodes`` contribute nothing; rank
    routed to a dst outside ``nodes`` leaks out exactly (both follow
    from ``nodes`` being the authority for the rank frame, and both
    are what the unrolled SQL replay computes too).

    The recurrence, all BIGINT with ``div`` floor division:

        r0(v)     = scale div N
        mass_i    = sum of r_i over nodes with no out-edge
        contrib_i(v) = sum over in-edges (u,v,w) of
                       (r_i(u) * w) div out_total(u)
        r_{i+1}(v) = ((100-d) * scale) div (100 * N)
                     + (d * (mass_i div N)) div 100
                     + (d * contrib_i(v)) div 100

    Floor losses mean column sums drift a few units below ``scale``
    per iteration — the defined algorithm, identical on every engine,
    in exchange for hash-exact replayability (rank error vs the real-
    valued iteration is bounded by iterations * (N + 2) / scale,
    negligible at the default scale).

    Returns one row per ``nodes`` row: (``node_col``, ``rank_fp``)
    with ``rank_fp`` the final BIGINT rank in 1/``scale`` units.
    ``n_nodes`` overrides the defining node count (the count and the
    dangling-existence probe otherwise share ONE aggregate job — the
    q151 derived-capacity idiom); an empty node frame returns an
    empty result.

    ``broadcast_nodes_max`` (r13 optimization) picks the per-iteration
    join strategy from the MEASURED node count: node-sized frames
    (ranks, per-iteration contributions) are ~16 bytes/row, so up to
    this many nodes they broadcast-join onto the persisted transition
    frame — zero exchanges of the edge-sized side per iteration —
    while larger graphs fall back to the co-keyed shuffle join. The
    conditional exists because each iteration's checkpointed rank
    frame is a LogicalRDD with no size statistics: the planner cannot
    make the broadcast decision itself and defaults to sort-merge
    (measured r13 at sf0.1: the SMJ path re-exchanged the ~380k-row
    cached transition frame AND the 1k-row rank frame every iteration
    — 5 exchanges/iteration vs 1 with the broadcast, bench extra
    6.8 s/83 jobs -> see OPTIMIZATION_r13.md). The default (4M nodes
    ~= 64 MB built relation) is far under the broadcast hard cap and
    covers every host-graph ranking a 100 TB corpus needs; pass 0 to
    force the shuffle path.

    ``lineage`` controls the per-iteration localCheckpoint that keeps
    lineage flat: ``"eager"`` (default) materializes each iteration
    synchronously — one deterministic job per iteration, which is
    what makes the bench job-count pin exact (a lazy checkpoint's
    materialization races under concurrent downstream evaluation and
    the observed job count flickers); ``"keep"`` skips checkpointing
    so the FULL iterated plan stays inspectable (plan-shape tests; any
    checkpoint replaces the logical plan with an RDD scan node) —
    plan size grows with iterations, so only for small ``iterations``.
    Cache ownership follows the mode: ``"eager"`` releases the
    internal persisted frames before returning (the result is already
    materialized); under ``"keep"`` the returned plan still reads
    them, so the caller releases (``spark.catalog.clearCache()`` or
    session end) after its final action.

    SESSION-GLOBAL CONF WHILE RUNNING: the call holds
    ``session.aqe_disabled`` — AQE is disabled for the WHOLE
    SparkSession for the duration of the (eager) iteration loop and
    restored on exit. Why: every per-iteration frame is node-sized or
    already persisted, yet AQE materializes every exchange as its own
    scheduler job (measured r13 at sf0.1: q152's two 5-iteration calls
    read 83 jobs with AQE on vs 43 off on the broadcast path, 29 on the
    shuffle path — OPTIMIZATION_r13.md); off, the transition frame's
    persisted hash(_s_) partitioning also keeps its partition count, so
    the non-broadcast path reuses it instead of re-exchanging. Any
    UNRELATED query another thread runs on the same session while this
    call is in flight plans with AQE off: it still returns correct
    results, but silently loses runtime coalescing/skew handling.
    Concurrent iterative calls are safe (the hold is refcounted; q152
    overlaps two modes deliberately); callers that
    interleave ranking with serving traffic should run the ranker on
    its own ``spark.newSession()``, which insulates SQLConf entirely —
    the ``phrase_merges`` trainer contract.
    """
    if lineage not in ("eager", "keep"):
        raise ValueError(f"lineage must be eager|keep, got {lineage!r}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")

    with aqe_disabled(edges.sparkSession):
        w_expr = (
            F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
        )
        e = edges.select(
            F.col(src).alias("_s_"), F.col(dst).alias("_d_"), w_expr.alias("_w_")
        ).where(
            F.col("_s_").isNotNull() & F.col("_d_").isNotNull() & (F.col("_w_") > 0)
        )
        agg = e.groupBy("_s_", "_d_").agg(F.sum("_w_").alias("_w_"))
        tot = agg.groupBy("_s_").agg(F.sum("_w_").alias("_tot_"))
        # (src, dst, w, out_total): persisted once, joined every iteration
        trans = agg.join(tot, "_s_").persist()

        raw = nodes.select(F.col(node_col).alias("_v_")).where(
            F.col("_v_").isNotNull()
        )
        # dangling flag resolved ONCE (the edge set is static); distinct
        # before the join so duplicate src rows cannot fan the node frame
        base = raw.join(
            trans.select("_s_").distinct().withColumn("_out_", F.lit(True)),
            raw["_v_"] == F.col("_s_"),
            "left",
        ).select("_v_", F.coalesce("_out_", F.lit(False)).alias("_out_")).persist()

        # ONE job resolves both the defining node count and whether any
        # dangling node exists at all — when none does (cleaned web graphs
        # mostly have none), the mass branch is EXACTLY zero by the
        # recurrence, so every iteration skips its aggregate + broadcast
        # (~2 AQE stages per iteration of pure scheduler tax on a bench
        # host, and a real reduction at scale)
        stats = base.agg(
            F.count("*").alias("_n_"),
            F.coalesce(
                F.sum(F.when(~F.col("_out_"), F.lit(1))), F.lit(0)
            ).alias("_nd_"),
        ).first()
        n = int(n_nodes) if n_nodes is not None else int(stats["_n_"])
        has_dangling = int(stats["_nd_"]) > 0
        if n <= 0:
            trans.unpersist(blocking=True)
            base.unpersist(blocking=True)
            return raw.select(
                F.col("_v_").alias(node_col),
                F.lit(0).cast("long").alias("rank_fp"),
            ).where(F.lit(False))

        d = int(damping_pct)
        teleport = ((100 - d) * scale) // (100 * n)  # exact Python bigint div
        # node-sized frames broadcast below the threshold (see the
        # broadcast_nodes_max doc note); F.broadcast only HINTS a join
        # strategy, so results are identical on both paths
        small = n <= broadcast_nodes_max

        def _node_sized(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        ranks = base.withColumn("_r_", F.lit(scale // n).cast("long"))
        for _ in range(iterations):
            contrib = (
                trans.join(
                    _node_sized(ranks.select(F.col("_v_").alias("_s_"), "_r_")),
                    "_s_",
                )
                .groupBy(F.col("_d_").alias("_v_"))
                .agg(F.expr("sum((_r_ * _w_) div _tot_)").cast("long").alias("_c_"))
            )
            nxt = base.join(_node_sized(contrib), "_v_", "left")
            mass_term = F.lit(0).cast("long")
            if has_dangling:
                mass = ranks.where(~F.col("_out_")).agg(
                    F.coalesce(F.sum("_r_"), F.lit(0)).cast("long").alias("_m_")
                )
                # 1-row mass: broadcast nested-loop, never a shuffle
                nxt = nxt.join(F.broadcast(mass))
                mass_term = F.expr(f"({d} * (_m_ div {n})) div 100")
            ranks = nxt.select(
                "_v_",
                "_out_",
                (
                    F.lit(teleport)
                    + mass_term
                    + F.expr(f"({d} * coalesce(_c_, 0L)) div 100")
                ).cast("long").alias("_r_"),
            )
            if lineage == "eager":
                ranks = ranks.localCheckpoint(eager=True)
        # cache ownership: with eager checkpoints the final rank frame is
        # already materialized and references neither persisted frame, so
        # both release here; iterations == 0 leaves ranks reading base
        # directly (trans is unused either way). Under "keep" the
        # returned plan still reads them — the CALLER owns the release
        # after its final action (the similarity.py ownership contract).
        # NOTE the bench consequence: Spark's cache is keyed by the
        # semantic logical plan, so before this release landed,
        # back-to-back bench passes of the same query silently REUSED the
        # previous pass's cached transition/base blocks and read ~33
        # jobs/call; with the release every pass rebuilds cold (~44
        # jobs/call) — the steadier regression signal, and the only
        # correct behavior for a long-lived session running many queries
        # (the 152-query driver sim). blocking=True keeps the next
        # same-plan persist from racing the deferred drop.
        if lineage == "eager":
            trans.unpersist(blocking=True)
            if iterations > 0:
                base.unpersist(blocking=True)
        return ranks.select(
            F.col("_v_").alias(node_col), F.col("_r_").alias("rank_fp")
        )
