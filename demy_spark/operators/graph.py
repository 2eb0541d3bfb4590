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
  setup job reads its row count, whether it has a dangling node, and
  the transition frame's row count;
- up to ``broadcast_nodes_max`` node rows (the default path), a second
  setup job collects the node table, and the node-sized state lives on
  the driver between iterations as an Arrow table; the node update —
  teleport, dangling mass and damping, all exact, overflow-checked
  int64 — runs on the driver. The edge pass that feeds it depends on
  the transition frame's size:
  - up to ``broadcast_nodes_max`` transition rows too, a third setup
    job collects the transition frame, and an iteration runs NO Spark
    job: transition ⋈ ranks on src and the per-dst sum run in pyarrow
    (measured up to the bound with ``scripts/held_cutoff.py``: at
    4M transition rows a held pass took 0.53 s against the broadcast
    pass's 2.8 s, for ~0.7 GB more driver Python RSS; see
    ``pagerank``);
  - above that (up to ~4M hosts over a huge edge set), one iteration
    = one pass over the transition frame (a join with the broadcast
    rank table + one hash aggregation by dst, read back with
    ``toArrow()``). Each iteration's ranks enter as a fresh
    ``LocalRelation``, so lineage stays flat with no per-iteration
    checkpoint (the Pregelix superstep: one join + group-by dataflow
    over the edges);
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
multigraphs). A term past 2^63 raises in every regime: Spark's ANSI
BIGINT on the executors, checked Arrow arithmetic on the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demy_spark.io import arrow_exact_key, local_frame
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

    ``broadcast_nodes_max`` bounds every table the driver holds, and
    the MEASURED row counts, which the first setup job reads before
    anything is collected, pick one of three regimes:

    - node rows AND transition rows (distinct (src, dst) edges) both
      within it (the default path): setup jobs collect the node table,
      then the transition frame, to the driver, and every iteration
      runs there in pyarrow — transition ⋈ ranks on src,
      ``(r * w) div out_total`` per edge, a sum by dst, then the node
      update — with no Spark job;
    - node rows within it, transition rows above it: the node table
      is collected and the ranks stay on the driver as an Arrow table
      (~16 bytes/node), but each iteration broadcasts them as a
      ``LocalRelation`` onto the persisted transition frame,
      aggregates contributions by dst and reads them back — one edge
      pass, no checkpoint, no per-iteration persist — before the same
      driver-side node update;
    - node rows above it (or ``broadcast_nodes_max=0``): the
      distributed path. The rank frame is a checkpointed frame, joined
      without a broadcast hint (the planner picks the strategy; a
      co-keyed shuffle at that size), and nothing reaches the driver.

    All three compute the same recurrence and return identical BIGINT
    ranks. The driver-side arithmetic is exact int64 and raises on
    overflow, as Spark's ANSI BIGINT does; all terms are
    non-negative, so truncating division IS the floor division of the
    recurrence. The default (4M rows ~= 64 MB of driver state and
    broadcast relation per node table, ~128 MB per transition table)
    is far under the broadcast hard cap and covers every host-graph
    ranking a 100 TB corpus needs. Its transition-row side is measured
    (``scripts/held_cutoff.py pagerank``: random graphs of 1M, 2M and 4M
    edges over a tenth as many nodes, 4-core host, ``local[4]``, 5
    iterations): the held pass beat the broadcast pass at every size,
    0.12 vs 0.86 s, 0.22 vs 1.5 s and 0.53 vs 2.8 s per iteration (a
    whole call 4.2 vs 7.2, 6.9 vs 12.4 and 12.7 vs 22.6 s), while the
    driver's Python process peaked at 356, 533 and 927 MB against
    166-200 MB (~180 bytes per held transition row: the table, the
    join output and the split-sum temporaries) and its JVM, which
    local mode shares with the executors, at no more than on the
    broadcast pass (4.2 against 5.3 GB at 4M). Beyond 4M nothing is
    measured, so the bound stays there. The driver-side regimes match
    each edge dst (and, when the transition frame is held, each src)
    to a node by value in the node column's type (an integral key
    that does not fit it matches no node, as in Spark's join), so
    they run only when that pairs keys exactly as Spark's coerced
    join does:
    node and key of one non-floating type, or both integral. Other
    type pairs (e.g. string nodes over bigint edges, where Spark's
    join equates '007' with 7) take the distributed path when the dst
    does not pair exactly, and the broadcast edge pass when only the
    src does not. Duplicate node rows keep Spark's join multiplicity
    in every regime.

    ``lineage`` applies to the distributed path: ``"eager"`` (default)
    ``localCheckpoint``-s each iteration synchronously — one
    deterministic job per iteration (a lazy checkpoint's
    materialization races under concurrent downstream evaluation and
    the observed job count flickers); ``"keep"`` skips checkpointing
    so the FULL iterated plan stays inspectable (plan-shape tests; any
    checkpoint replaces the logical plan with an RDD scan node) —
    plan size grows with iterations, so only for small ``iterations``.
    ``"keep"`` always takes the distributed path, since the driver
    regimes have no iterated plan to keep.

    Cache ownership (``session.owned``): the driver regimes and
    ``"eager"`` release their cached frames before returning; under
    ``"keep"`` the returned plan still reads them, so the caller's
    scope owns them.

    AQE is off session-wide while the call runs, in every regime:
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

        # ONE job, one scan of the node and transition rows (tagged 0 =
        # node with an out-edge, 1 = dangling node, 2 = transition row),
        # resolves the node-row count (which picks the path), whether
        # any dangling node exists at all — when none does (cleaned web
        # graphs mostly have none), the mass term is EXACTLY zero by the
        # recurrence, so the distributed path skips its per-iteration
        # aggregate + broadcast — and the transition-row count (whether
        # the driver may hold the transition frame too)
        k = F.col("_k_")
        stats = (
            base.select(F.when(F.col("_out_"), 0).otherwise(1).alias("_k_"))
            .unionByName(trans.select(F.lit(2).alias("_k_")))
            .agg(
                F.count(F.when(k < 2, 1)).alias("_n_"),
                F.count(F.when(k == 1, 1)).alias("_nd_"),
                F.count(F.when(k == 2, 1)).alias("_nt_"),
            )
            .first()
        )
        rows, trans_rows = int(stats["_n_"]), int(stats["_nt_"])
        n = int(n_nodes) if n_nodes is not None else rows
        has_dangling = int(stats["_nd_"]) > 0
        if n <= 0:
            return raw.select(
                F.col("_v_").alias(node_col),
                F.lit(0).cast("long").alias("rank_fp"),
            ).where(F.lit(False))

        d = int(damping_pct)
        node_type = raw.schema["_v_"].dataType
        src_type, dst_type = (trans.schema[c].dataType for c in ("_s_", "_d_"))
        if (
            lineage == "eager"
            and rows <= broadcast_nodes_max
            and _same_key_domain(node_type, dst_type)
        ):
            # each table is collected only once its size is known
            table = base.toArrow()
            if trans_rows <= broadcast_nodes_max and _same_key_domain(
                node_type, src_type
            ):
                edge_pass = _held_pass(trans, node_type)
            else:
                edge_pass = _broadcast_pass(trans, node_type)
            return _driver_ranks(
                trans.sparkSession,
                table,
                edge_pass,
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
    spark: SparkSession,
    table: pa.Table,
    edge_pass: Callable[[pa.Table], pa.Table],
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
    row. ``edge_pass`` maps the (``_s_``, ``_r_``) rank table to the
    (``_v_``, ``_c_``) contributions summed by dst, keyed in the node
    type; the rest of the recurrence is int64 Arrow arithmetic,
    overflow-checked like Spark's ANSI BIGINT."""
    out = T.StructType(
        [T.StructField(node_col, node_type), T.StructField("rank_fp", T.LongType())]
    )
    v = table.column("_v_").combine_chunks()
    dangling = pc.invert(table.column("_out_").combine_chunks())
    teleport = ((100 - d) * scale) // (100 * n)
    r = pa.repeat(pa.scalar(scale // n, pa.int64()), len(v))
    for _ in range(iterations):
        contrib = edge_pass(pa.table([v, r], names=["_s_", "_r_"]))
        at = pc.index_in(v, value_set=contrib.column("_v_"))
        c = pc.fill_null(pc.take(contrib.column("_c_").combine_chunks(), at), 0)
        mass = _checked_sums(pa.table({"_m_": pc.filter(r, dangling)}), "_m_", [])
        mass = mass.column("_m_")[0]
        # teleport + (d * (mass div n)) div 100 + (d * c) div 100, in
        # Spark's evaluation order; every term is non-negative, so
        # truncating division IS the recurrence's floor division
        rest = pc.add_checked(
            teleport, pc.divide(pc.multiply_checked(d, pc.divide(mass, n)), 100)
        )
        r = pc.add_checked(rest, pc.divide(pc.multiply_checked(c, d), 100))
    return local_frame(spark, pa.table([v, r], names=[node_col, "rank_fp"]), out)


def _held_pass(
    trans: DataFrame, node_type: T.DataType
) -> Callable[[pa.Table], pa.Table]:
    """The edge pass with the transition frame on the driver: collected
    once (src and dst try-cast to the node type, so they pair with node
    ids by value as ``_same_key_domain`` admits), then every iteration
    is transition ⋈ ranks on src, ``(_r_ * _w_) div _tot_`` per edge
    and a checked sum by dst, in pyarrow — no Spark job. The inner join
    keeps Spark's multiplicity: every copy of a duplicate node row
    feeds each of its out-edges."""
    held = trans.select(
        *(_as_node(trans, c, node_type).alias(c) for c in ("_s_", "_d_")),
        "_w_",
        "_tot_",
    ).toArrow()

    def edge_pass(ranks: pa.Table) -> pa.Table:
        j = held.join(ranks, keys="_s_", join_type="inner")
        terms = pc.divide(
            pc.multiply_checked(j.column("_r_"), j.column("_w_")), j.column("_tot_")
        )
        return _checked_sums(
            pa.table({"_v_": j.column("_d_"), "_c_": terms}), "_c_", ["_v_"]
        )

    return edge_pass


def _broadcast_pass(
    trans: DataFrame, node_type: T.DataType
) -> Callable[[pa.Table], pa.Table]:
    """The edge pass for a transition frame too large for the driver:
    each iteration is ONE distributed pass — transition ⋈ the rank
    table (a fresh broadcast ``LocalRelation``) on src, summed by dst
    and read back with ``toArrow()``."""
    spark = trans.sparkSession
    rank_schema = T.StructType(
        [T.StructField("_s_", node_type), T.StructField("_r_", T.LongType())]
    )
    dst = _as_node(trans, "_d_", node_type)

    def edge_pass(ranks: pa.Table) -> pa.Table:
        return (
            trans.join(F.broadcast(local_frame(spark, ranks, rank_schema)), "_s_")
            .groupBy(dst.alias("_v_"))
            .agg(F.expr("sum((_r_ * _w_) div _tot_)").cast("long").alias("_c_"))
            .toArrow()
        )

    return edge_pass


def _as_node(trans: DataFrame, key: str, node_type: T.DataType) -> Column:
    """Edge key ``key`` in the node type, so it looks up node ids by
    value; ``_same_key_domain`` admits only types this cast cannot
    merge."""
    col = F.col(key)
    return col if trans.schema[key].dataType == node_type else col.try_cast(node_type)


def _checked_sums(table: pa.Table, col: str, by: list[str]) -> pa.Table:
    """(``by``..., ``col``): the int64 ``col`` summed per ``by`` group
    (``by=[]``: one row, 0 over no rows), raising on int64 overflow as
    Spark's ANSI BIGINT sum does — Arrow's ``sum`` wraps silently. Each
    value splits into its high and low 32 bits, whose sums cannot wrap
    below 2^31 values per group, and the halves recombine with checked
    arithmetic."""
    x = table.column(col)
    exact = pc.ScalarAggregateOptions(min_count=0)
    g = (
        table.select(by)
        .append_column("_hi_", pc.shift_right(x, 32))
        .append_column("_lo_", pc.bit_wise_and(x, 0xFFFFFFFF))
        .group_by(by)
        .aggregate([("_hi_", "sum", exact), ("_lo_", "sum", exact)])
    )
    total = pc.add_checked(
        pc.multiply_checked(g.column("_hi__sum"), 1 << 32), g.column("_lo__sum")
    )
    return g.select(by).append_column(col, total)


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _same_key_domain(node_type: T.DataType, key_type: T.DataType) -> bool:
    """Whether the driver regimes' lookup of an edge key (cast to the
    node type, matched by value in Arrow) pairs exactly the (node, key)
    pairs that Spark's coerced join pairs on the distributed path:
    equal types that Arrow keys exactly (``io.arrow_exact_key``: no
    floating point, nothing nested), or two integral types (the cast is
    exact, or out of range and NULL)."""
    if isinstance(node_type, _INTEGRAL) and isinstance(key_type, _INTEGRAL):
        return True
    return node_type == key_type and arrow_exact_key(node_type)
