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
- the node table (node, has-out-edge) is persisted once, and ONE
  setup job reads its row count and whether it has a dangling node;
- up to ``broadcast_nodes_max`` node rows (the default path), a
  second setup job collects the node table, and the node-sized state
  lives on the driver between iterations as an Arrow table: one
  iteration = one pass over the transition frame (a join
  with the broadcast rank table on src + one hash aggregation by dst,
  read back with ``toArrow()``), and the node update — teleport,
  dangling mass and damping, all exact int64 — runs on the driver.
  Each iteration's ranks enter as a fresh ``LocalRelation``, so
  lineage stays flat with no per-iteration checkpoint (the Pregelix
  superstep: one join + group-by dataflow over the edges);
- larger graphs keep the node state distributed: one iteration = one
  equi-join (ranks ⋈ transition on src) + one hash aggregation by dst
  + a broadcast of the 1-row dangling-mass aggregate (SKIPPED outright
  when the setup job shows the graph has no dangling node — the term
  is exactly zero then), and the rank frame is ``localCheckpoint``-ed
  per iteration (the assign_clusters idiom) so lineage stays flat in
  ``iterations``;
- dangling mass is handled exactly (redistributed uniformly), so
  sinks — crawl frontiers are full of them — do not leak rank.

Overflow contract: per-edge terms compute ``rank * weight`` before
the floor division, so ``scale * max(weight)`` must stay below 2^63
(with the default ``scale`` of 1e12 that allows aggregated edge
weights up to ~9.2e6; pass a smaller ``scale`` for heavier
multigraphs).
"""

from __future__ import annotations

from contextlib import nullcontext

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demy_spark.io import local_frame
from demy_spark.session import aqe_disabled, keep, owned

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
    ``n_nodes`` overrides the defining node count (otherwise the
    number of non-NULL node rows, read from the first setup job); an
    empty node frame returns an empty result.

    ``broadcast_nodes_max`` picks where the node-sized state lives,
    from the MEASURED number of node rows, which the first setup job
    reads before anything is collected. Up to this many (the default
    path), a second setup job collects the node table to the driver
    and the ranks stay there between iterations as an Arrow table
    (~16 bytes/node): each iteration broadcasts them as a
    ``LocalRelation`` onto the persisted transition frame, aggregates
    contributions by dst and reads them back — one edge pass, no
    checkpoint, no per-iteration persist — and the node update runs on
    the driver in exact int64 (all terms are non-negative, so
    truncating division IS the floor division of the recurrence).
    Larger graphs (or ``broadcast_nodes_max=0``) take the distributed
    path: the rank frame is a checkpointed frame, joined without a
    broadcast hint (the planner picks the strategy; a co-keyed shuffle
    at that size), and the node table never reaches the driver. Both
    paths compute the same recurrence and return identical BIGINT
    ranks. The default (4M nodes ~= 64 MB of driver state and
    broadcast relation) is far under the broadcast hard cap and covers
    every host-graph ranking a 100 TB corpus needs. The driver path
    matches each edge dst to a node by value in the node column's type
    (an integral dst that does not fit it matches no node, as in
    Spark's join), so it runs only when that pairs keys exactly as
    Spark's coerced join does: node and dst of one non-floating type,
    or both integral. Other type pairs (e.g. string nodes over bigint
    edges, where Spark's join equates '007' with 7) take the
    distributed path.

    ``lineage`` applies to the distributed path: ``"eager"`` (default)
    ``localCheckpoint``-s each iteration synchronously — one
    deterministic job per iteration (a lazy checkpoint's
    materialization races under concurrent downstream evaluation and
    the observed job count flickers); ``"keep"`` skips checkpointing
    so the FULL iterated plan stays inspectable (plan-shape tests; any
    checkpoint replaces the logical plan with an RDD scan node) —
    plan size grows with iterations, so only for small ``iterations``.
    ``"keep"`` always takes the distributed path, since the driver
    path has no iterated plan to keep.

    Cache ownership (``session.owned``): the default driver path and
    ``"eager"`` release their cached frames before returning; under
    ``"keep"`` the returned plan still reads them, so the caller's
    scope owns them.

    AQE is off session-wide while the loop runs, on both paths:
    ``session.aqe_disabled`` states the cost and how to insulate other
    queries.
    """
    if lineage not in ("eager", "keep"):
        raise ValueError(f"lineage must be eager|keep, got {lineage!r}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")

    scope = owned() if lineage == "eager" else nullcontext()
    with aqe_disabled(edges.sparkSession), scope:
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
        trans = keep(agg.join(tot, "_s_"))

        raw = nodes.select(F.col(node_col).alias("_v_")).where(
            F.col("_v_").isNotNull()
        )
        # dangling flag resolved ONCE (the edge set is static); distinct
        # before the join so duplicate src rows cannot fan the node frame
        base = keep(
            raw.join(
                trans.select("_s_").distinct().withColumn("_out_", F.lit(True)),
                raw["_v_"] == F.col("_s_"),
                "left",
            ).select("_v_", F.coalesce("_out_", F.lit(False)).alias("_out_"))
        )

        # ONE job resolves the node-row count (which picks the path)
        # and whether any dangling node exists at all — when none does
        # (cleaned web graphs mostly have none), the mass term is
        # EXACTLY zero by the recurrence, so the distributed path skips
        # its per-iteration aggregate + broadcast
        stats = base.agg(
            F.count("*").alias("_n_"),
            F.coalesce(
                F.sum(F.when(~F.col("_out_"), F.lit(1))), F.lit(0)
            ).alias("_nd_"),
        ).first()
        rows = int(stats["_n_"])
        n = int(n_nodes) if n_nodes is not None else rows
        has_dangling = int(stats["_nd_"]) > 0
        if n <= 0:
            return raw.select(
                F.col("_v_").alias(node_col),
                F.lit(0).cast("long").alias("rank_fp"),
            ).where(F.lit(False))

        d = int(damping_pct)
        node_type = raw.schema["_v_"].dataType
        if (
            lineage == "eager"
            and rows <= broadcast_nodes_max
            and _same_key_domain(node_type, trans.schema["_d_"].dataType)
        ):
            # the node table is collected only once its size is known
            return _driver_ranks(
                trans,
                base.toArrow(),
                node_col=node_col,
                node_type=node_type,
                n=n,
                d=d,
                iterations=iterations,
                scale=scale,
            )

        teleport = ((100 - d) * scale) // (100 * n)  # exact Python bigint div
        ranks = base.withColumn("_r_", F.lit(scale // n).cast("long"))
        for _ in range(iterations):
            contrib = (
                trans.join(ranks.select(F.col("_v_").alias("_s_"), "_r_"), "_s_")
                .groupBy(F.col("_d_").alias("_v_"))
                .agg(F.expr("sum((_r_ * _w_) div _tot_)").cast("long").alias("_c_"))
            )
            nxt = base.join(contrib, "_v_", "left")
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
        return ranks.select(
            F.col("_v_").alias(node_col), F.col("_r_").alias("rank_fp")
        )


def _driver_ranks(
    trans: DataFrame,
    table: pa.Table,
    *,
    node_col: str,
    node_type: T.DataType,
    n: int,
    d: int,
    iterations: int,
    scale: int,
) -> DataFrame:
    """The iterations with the node state on the driver. ``table`` is
    the collected (``_v_``, ``_out_``) node table, one row per node
    row; ``trans`` the persisted transition frame. Each iteration is
    ONE distributed pass (transition ⋈ broadcast ranks, summed by dst);
    the rest of the recurrence is int64 Arrow arithmetic on the
    driver, overflow-checked like Spark's ANSI BIGINT."""
    spark = trans.sparkSession
    out = T.StructType(
        [T.StructField(node_col, node_type), T.StructField("rank_fp", T.LongType())]
    )
    v = table.column("_v_").combine_chunks()
    dangling = pc.invert(table.column("_out_").combine_chunks())
    rank_schema = T.StructType(
        [T.StructField("_s_", node_type), T.StructField("_r_", T.LongType())]
    )
    # contributions keyed in the node type, so they look up by value;
    # _same_key_domain admits only types this cast cannot merge
    dst = F.col("_d_")
    if trans.schema["_d_"].dataType != node_type:
        dst = dst.try_cast(node_type)
    teleport = ((100 - d) * scale) // (100 * n)
    r = pa.repeat(pa.scalar(scale // n, pa.int64()), len(v))
    for _ in range(iterations):
        ranks = local_frame(spark, pa.table([v, r], names=["_s_", "_r_"]), rank_schema)
        contrib = (
            trans.join(F.broadcast(ranks), "_s_")
            .groupBy(dst.alias("_v_"))
            .agg(F.expr("sum((_r_ * _w_) div _tot_)").cast("long").alias("_c_"))
            .toArrow()
        )
        at = pc.index_in(v, value_set=contrib.column("_v_"))
        c = pc.fill_null(pc.take(contrib.column("_c_").combine_chunks(), at), 0)
        mass = pc.sum(pc.filter(r, dangling)).as_py() or 0  # null when none
        r = pc.add_checked(
            pc.divide(pc.multiply_checked(c, d), 100),
            teleport + (d * (mass // n)) // 100,
        )
    return local_frame(spark, pa.table([v, r], names=[node_col, "rank_fp"]), out)


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _same_key_domain(node_type: T.DataType, dst_type: T.DataType) -> bool:
    """Whether the driver path's dst lookup (dst cast to the node type,
    matched by value) pairs exactly the (node, dst) keys that Spark's
    coerced join pairs on the distributed path: equal types other than
    floating point (Spark's join equates -0.0 with 0.0), or two
    integral types (the cast is exact, or out of range and NULL)."""
    if isinstance(node_type, _INTEGRAL) and isinstance(dst_type, _INTEGRAL):
        return True
    return node_type == dst_type and not isinstance(
        node_type, (T.FloatType, T.DoubleType)
    )
