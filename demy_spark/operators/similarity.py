"""Similarity search over embedding columns (array<float>).

Three paths:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (a query set is dictionary-sized by contract);
  the corpus side streams through one scan, score is a codegen'd
  zip_with/aggregate, top-k is a rank window on the query id.
- ``lsh_cosine_topk``: random-hyperplane LSH bucketing — a 100 TB
  path. Deterministic planes are derived per (plane, dim) from a
  seeded hash folded into the plan (no driver-side numpy state, no
  broadcast variable), so the same seed gives the same buckets on any
  cluster. Probing compares only same-bucket candidates; multi-probe
  (flipping the weakest plane bits) trades recall for cost.
- ``ivf_cosine_topk``: inverted-file index (IVF-flat) — the other
  100 TB path. A small coarse quantizer (Lloyd from deterministic
  seeds, fixed iteration count) partitions the corpus into inverted
  lists; a query scans only its ``nprobe`` nearest lists, so the
  candidate fraction is ~nprobe/n_lists of the corpus, and the lists
  themselves are the natural partitioning key for co-located rerank.
- ``pq_build``/``pq_adc_topk``: product quantization — the MEMORY
  scale path. Vectors compress to ``m`` small codes (64 float dims →
  m bytes), and queries score candidates from an m×ksub lookup table
  of subspace distances (asymmetric distance computation) instead of
  touching raw vectors. Codebooks are trained fully in-plan (no
  driver state) from deterministic seeds, so codes are reproducible
  on any engine. Composes with IVF (classic IVF-PQ): restrict the
  ADC scan to the probed lists' codes.

The reference's vector ops (linalg/implicits.scala cosine/similarity)
are covered by functions/vectors.py; these operators add the search
layer a training-data pipeline needs (ANN over corpus embeddings).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.functions.vectors import cosine_similarity, dot, l2_norm
from demy_spark.io import local_frame
from demy_spark.session import keep, owned


def _hoisted_cosine() -> Column:
    """``cosine_similarity("_qv_", "_cv_")`` with the per-vector norms
    pre-computed into ``_qn_``/``_cn_`` columns: the pairwise stage
    pays ONE interpreted array fold per pair (the dot product) instead
    of three. Same operand order as ``cosine_similarity`` (query norm
    first), and IEEE doubles are bit-identical whether the norm fold
    runs beside the pair or per vector — semdedup's measured
    22.6 → 3.5 s fix, applied to every top-k rerank here. (An
    unrolled fixed-width codegen dot was prototyped and measured 5x
    SLOWER inside the shuffle-fed rerank stage — see PLANS.md round-5
    rerank audit — so the fold stays.)"""
    return F.when(
        (F.col("_qn_") > 0) & (F.col("_cn_") > 0),
        dot("_qv_", "_cv_") / (F.col("_qn_") * F.col("_cn_")),
    ).otherwise(F.lit(0.0))


def _plane_component(plane: Column, dim_idx: Column, seed: int) -> Column:
    """Deterministic pseudo-random plane component in [-1, 1): Knuth
    multiplicative hash of (plane, dim, seed) — stable across
    executors/runs AND bit-reproducible in plain SQL (the DuckDB
    oracles recompute it), unlike xxhash64. The key is masked to 20
    bits before the multiply so ANSI mode cannot overflow a long."""
    key = (plane * 1000003 + dim_idx * 7 + F.lit(seed)).bitwiseAND(F.lit(0xFFFFF))
    h = (key * F.lit(2654435761)) % F.lit(4294967296) % 100003
    return h.cast("double") / 100003.0 * 2.0 - 1.0


def hyperplane_bucket(vec: Column, num_planes: int = 16, seed: int = 42) -> Column:
    """LSH bucket id: sign bits of <vec, plane_p> packed into a long."""
    dims = F.sequence(F.lit(0), F.size(vec) - 1)
    def plane_dot(p: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                vec,
                dims,
                lambda x, i: x.cast("double") * _plane_component(p, i, seed),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    out = F.lit(0).cast("long")
    for p in range(num_planes):
        out = out.bitwiseOR(
            F.when(plane_dot(F.lit(p)) > 0, F.lit(1 << p).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 10,
    query_vec_col: str | None = None,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, sim, rk). Self-matches (same id)
    are excluded when ids share a domain."""
    qv = query_vec_col or vec_col
    qi = query_id_col or id_col
    q = queries.select(
        F.col(qi).alias("query_id"), F.col(qv).alias("_qv_")
    ).withColumn("_qn_", l2_norm("_qv_"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv_")
    ).withColumn("_cn_", l2_norm("_cv_"))
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _hoisted_cosine().alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 10,
    num_planes: int = 12,
    seed: int = 42,
    query_vec_col: str | None = None,
    query_id_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, exact cosine rerank inside the bucket. Recall grows as
    ``num_planes`` shrinks (bigger buckets); 2^num_planes buckets
    bound each bucket to ~N/2^p candidates — pick p ≈ log2(N/1000)."""
    qv = query_vec_col or vec_col
    qi = query_id_col or id_col
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv_"),
        hyperplane_bucket(F.col(vec_col), num_planes, seed).alias("_bucket_"),
    ).withColumn("_cn_", l2_norm("_cv_"))
    q = queries.select(
        F.col(qi).alias("query_id"),
        F.col(qv).alias("_qv_"),
        hyperplane_bucket(F.col(qv), num_planes, seed).alias("_bucket_"),
    ).withColumn("_qn_", l2_norm("_qv_"))
    pairs = c.join(F.broadcast(q), "_bucket_").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", _hoisted_cosine().alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def ivf_build(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    n_lists: int = 8,
    train_iters: int = 3,
    max_list_factor: float | None = 4.0,
    own_persist: bool = False,
) -> tuple[list[list[float]], DataFrame]:
    """Train an IVF coarse quantizer and assign the corpus to lists.

    Seeds are the per-``id % n_lists`` element-wise means — fully
    deterministic, no RNG — followed by exactly ``train_iters`` Lloyd
    rounds (``tol=0`` disables early convergence), so the quantizer is
    a pure function of the corpus and SQL-reproducible (the q53 oracle
    unrolls the rounds as CTEs). Returns (centroids, assignments) with
    assignments = (id, cluster, sim).

    Centroids are dictionary-sized (n_lists × dim floats): collected
    to the driver per round and broadcast back — never corpus-scale
    state.

    ``max_list_factor`` bounds list sizes (on by default): a list
    holding more than ``ceil(max_list_factor × n / n_lists)`` vectors
    after Lloyd is SPLIT into equal-ish sublists (members spread by
    ``md5(id) % n_sublists`` — deterministic, id-type-agnostic, no
    window over the hot list),
    each with its own mean sub-centroid appended to the codebook. A
    dedup-less corpus collapses Lloyd lists (10 exact copies of every
    vector degenerated 80 lists to 8 non-empty at 10.6× the balanced
    size, costing ~3× on every probe — PLANS.md round-5/6); the cap
    restores the probe contract (~nprobe/n_lists of the corpus per
    query) at one extra dictionary-sized count job on the no-split
    fast path. Balanced corpora never trigger it (fixture max/avg is
    ~1.07 vs the 4.0 default). Sublist members keep their
    parent-centroid ``sim`` (documented: no in-repo consumer reads
    ``sim`` on the split path — rerank stages recompute exact cosine).
    Set ``max_list_factor=None`` to disable (bit-compat with the
    uncapped builder, e.g. for an oracle replay that pins the
    quantizer).

    ``own_persist=True`` returns the assignment still cached (semdedup
    reads it repeatedly); otherwise nothing stays cached. Ownership of
    a cached frame: ``session.owned``. With ``max_list_factor=None``
    nothing is cached either way."""
    from demy_spark.operators.dedup import _md5_long
    from demy_spark.topic import seeded_kmeans

    # seed group: `id % n_lists` for numeric ids (bit-identical to the
    # q53 oracle's CTE unroll for integer ids; integral doubles/
    # decimals truncate to the same group — no string round-trip,
    # which would NULL '3.0' and silently reroute numeric ids to the
    # fallback, code-review r7) with an md5 fallback so string ids
    # seed deterministically instead of failing the ANSI cast
    num_id = F.expr(f"try_cast(`{id_col}` AS BIGINT)")
    gid = F.when(num_id.isNotNull(), num_id % n_lists).otherwise(
        F.pmod(_md5_long(F.col(id_col).cast("string"), 1, 8), F.lit(n_lists))
    )
    dims = corpus.select(
        gid.alias("_g_"),
        F.posexplode(vec_col).alias("_d_", "_x_"),
    )
    rows = dims.groupBy("_g_", "_d_").agg(F.avg("_x_").alias("_m_")).collect()
    if not rows:
        raise ValueError(
            "ivf_build: corpus is empty — cannot seed a quantizer "
            "(documented contract; guard upstream for empty batches)"
        )
    by_g: dict[int, dict[int, float]] = {}
    for r in rows:
        by_g.setdefault(r["_g_"], {})[r["_d_"]] = r["_m_"]
    dim = max(max(d) for d in by_g.values()) + 1
    seeds = [
        [by_g.get(g, {}).get(i, 0.0) for i in range(dim)] for g in range(n_lists)
    ]
    assigned, centers, _ = seeded_kmeans(
        corpus, id_col, vec_col, seeds, max_iters=train_iters, tol=0.0
    )
    if max_list_factor is None:
        return centers, assigned
    return _split_hot_lists(
        corpus, vec_col, id_col, centers, assigned, max_list_factor,
        own_persist=own_persist,
    )


def _split_hot_lists(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centers: list[list[float]],
    assigned: DataFrame,
    max_list_factor: float,
    *,
    own_persist: bool = False,
) -> tuple[list[list[float]], DataFrame]:
    """Bound IVF list sizes by splitting every list over
    ``ceil(max_list_factor × n/n_lists)`` into ``ceil(size/bound)``
    sublists (members by ``md5(id) % n_sublists`` — hashed, not the
    raw value, so string ids and residue-skewed integers both spread;
    balance is binomial-in-expectation rather than exact), each
    re-centered on its own element-wise mean. Driver state stays
    dictionary-sized: the per-list histogram (n_lists rows) and the
    sub-centroid matrix (n_new × dim).

    The assignment is cached for this function's own passes (the
    histogram and the sub-centroid job). With ``own_persist=True`` the
    returned frame stays cached (the histogram just materialized it;
    dropping it measured +27% on semdedup end-to-end), owned as
    ``session.owned`` describes; otherwise the call releases every
    cache it made before returning."""
    if not own_persist:
        with owned():
            return _split_hot_lists(
                corpus, vec_col, id_col, centers, assigned, max_list_factor,
                own_persist=True,
            )
    n_lists = len(centers)
    assigned = keep(assigned)
    sizes = {
        r["cluster"]: r["_sz_"]
        for r in assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("_sz_"))
        .collect()
    }
    total = sum(sizes.values())
    bound = max(1, -(-int(max_list_factor * total) // n_lists))
    hot = {c: sz for c, sz in sizes.items() if sz > bound}
    if not hot:
        return centers, assigned
    # (cluster, n_sublists, first extra codebook id); extras enumerate
    # ascending-cluster so the mapping is a pure function of the
    # histogram
    next_id = n_lists
    plan: dict[int, tuple[int, int]] = {}
    for c in sorted(hot):
        s = -(-hot[c] // bound)
        plan[c] = (s, next_id)
        next_id += s - 1
    spark = corpus.sparkSession
    split_map = local_frame(
        spark,
        [(c, s, base) for c, (s, base) in plan.items()],
        "cluster int, _s_ int, _base_ int",
    )
    from demy_spark.operators.dedup import _md5_long

    resplit = keep(
        assigned.join(F.broadcast(split_map), "cluster", "left")
        .withColumn(
            "_sub_",
            # hash the id before the mod: a raw cast skips non-numeric
            # ids entirely (NULL cast -> list stays over the bound) and
            # residue-skewed integers (e.g. all-even ids with s=2)
            # would leave sublists unbalanced (ADVICE r6)
            F.when(
                F.col("_s_").isNotNull(),
                F.pmod(
                    _md5_long(F.col(id_col).cast("string"), 1, 8),
                    F.col("_s_").cast("long"),
                ),
            ),
        )
        .withColumn(
            "cluster",
            F.when(F.col("_sub_").isNull() | (F.col("_sub_") == 0), F.col("cluster"))
            .otherwise(F.col("_base_") + F.col("_sub_") - 1)
            .cast("int"),
        )
        .select(id_col, "cluster", "sim")
    )
    # re-center: element-wise means of each new sublist (hot members
    # only — everything else keeps its Lloyd centroid)
    hot_ids = list(plan)
    sub_rows = (
        resplit.where(
            F.col("cluster").isin(
                *hot_ids, *range(n_lists, next_id)
            )
        )
        .join(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
        .select("cluster", F.posexplode(vec_col).alias("_d_", "_x_"))
        .groupBy("cluster", "_d_")
        .agg(F.avg("_x_").alias("_m_"))
        .collect()
    )
    dim = len(centers[0])
    out = [list(c) for c in centers] + [
        [0.0] * dim for _ in range(next_id - n_lists)
    ]
    for r in sub_rows:
        out[r["cluster"]][r["_d_"]] = r["_m_"]
    # the sub-centroid job above materialized resplit's cache; the
    # pre-split assignment has no remaining consumer — drop it early
    assigned.unpersist()
    return out, resplit


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
    train_iters: int = 3,
    index: tuple[list[list[float]], DataFrame] | None = None,
    query_vec_col: str | None = None,
    query_id_col: str | None = None,
    filter_cols: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Approximate top-k via an inverted-file index: each query probes
    its ``nprobe`` nearest centroids (cosine, ties → lowest list id)
    and reranks only those lists' vectors exactly.

    Pass ``index=ivf_build(...)`` to reuse a trained quantizer across
    query batches (the build is one corpus scan per Lloyd round; the
    probe side is then centroid-table-sized work per query plus a
    candidate join bounded by ~nprobe/n_lists of the corpus).

    ``filter_cols``: per-query typed point filters — metadata-filtered
    vector search, the same contract as fuzzy_lookup's typed filters.
    Each ``(query_col, corpus_col)`` pair requires candidates to
    satisfy ``query[query_col] == corpus[corpus_col]``; a NULL query
    value means "no constraint for this row". The predicate is ANDed
    into the candidate frame BEFORE the exact rerank, so a selective
    filter shrinks the cosine stage, not just the output (the
    post-probe filter of every production filtered-ANN engine — with
    the standard caveat that recall is bounded by what the probed
    lists contain; raise nprobe for highly selective filters)."""
    from demy_spark.topic import _centers_df

    centers, assigned = (
        index
        if index is not None
        else ivf_build(
            corpus, vec_col, id_col, n_lists=n_lists, train_iters=train_iters
        )
    )
    spark = corpus.sparkSession
    qv = query_vec_col or vec_col
    qi = query_id_col or id_col
    cent = _centers_df(spark, centers)
    norm_c = cent.groupBy("_c_").agg(F.sqrt(F.sum(F.col("_w_") ** 2)).alias("_nc_"))

    fq_names = [f"_qf{i}_" for i in range(len(filter_cols))]
    q = queries.select(
        F.col(qi).alias("query_id"),
        F.col(qv).alias("_qv_"),
        *[F.col(qc).alias(a) for (qc, _), a in zip(filter_cols, fq_names)],
    )
    qdims = q.select("query_id", F.posexplode("_qv_").alias("_d_", "_x_"))
    qnorm = qdims.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("_x_") ** 2)).alias("_nx_")
    )
    qdots = (
        qdims.join(F.broadcast(cent), "_d_")
        .groupBy("query_id", "_c_")
        .agg(F.sum(F.col("_x_") * F.col("_w_")).alias("_dot_"))
        .join(F.broadcast(norm_c), "_c_")
        .join(qnorm, "query_id")
        .select(
            "query_id",
            "_c_",
            (
                F.col("_dot_") / F.nullif(F.col("_nx_") * F.col("_nc_"), F.lit(0.0))
            ).alias("_csim_"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("_csim_"), F.asc("_c_"))
    probe = (
        qdots.withColumn("_rk_", F.row_number().over(wp))
        .where(F.col("_rk_") <= nprobe)
        .select("query_id", F.col("_c_").alias("cluster"))
    )

    fc_names = [f"_cf{i}_" for i in range(len(filter_cols))]
    lists = assigned.select(
        F.col(id_col).alias("neighbor_id"), "cluster"
    ).join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv_"),
            *[F.col(cc).alias(a) for (_, cc), a in zip(filter_cols, fc_names)],
        ).withColumn("_cn_", l2_norm("_cv_")),
        "neighbor_id",
    )
    cand = lists.join(F.broadcast(probe), "cluster").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.join(
        F.broadcast(q.withColumn("_qn_", l2_norm("_qv_"))), "query_id"
    )
    for qf, cf in zip(fq_names, fc_names):
        # NULL query value = unconstrained row (fuzzy_lookup contract)
        scored = scored.where(F.col(qf).isNull() | (F.col(qf) == F.col(cf)))
    scored = scored.select("query_id", "neighbor_id", _hoisted_cosine().alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _subdims(df: DataFrame, id_col: str, vec_col: str, dsub: int) -> DataFrame:
    """(id, sub, dl, x): vector dims split into contiguous subspaces of
    width ``dsub``; ``dl`` is the dim index local to its subspace."""
    return df.select(
        F.col(id_col).alias("_id_"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_d_", "_x_"),
    ).select(
        "_id_",
        (F.col("_d_") / dsub).cast("int").alias("_sub_"),
        F.pmod("_d_", F.lit(dsub)).alias("_dl_"),
        "_x_",
    )


def _l2_argmin(points: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each (id, sub) to its L2-nearest centroid (ties → lowest
    code). ``points``: (_id_, _sub_, _dl_, _x_); ``cents``:
    (_sub_, _c_, _dl_, _m_, dictionary-sized → broadcast).

    Distances are ROUNDED to 9dp before the argmin: the squared-sum
    accumulates doubles in partition-dependent order, and an unrounded
    argmin between near-equidistant centroids could flip between runs
    or against the SQL oracle replay (which rounds identically)."""
    d2 = (
        points.join(F.broadcast(cents), ["_sub_", "_dl_"])
        .groupBy("_id_", "_sub_", "_c_")
        .agg(
            F.round(
                F.sum((F.col("_x_") - F.col("_m_")) ** 2), 9
            ).alias("_d2_")
        )
    )
    w = Window.partitionBy("_id_", "_sub_").orderBy(
        F.col("_d2_").asc(), F.col("_c_").asc()
    )
    return (
        d2.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") == 1)
        .select("_id_", "_sub_", "_c_")
    )


def pq_build(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 4,
    ksub: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace PQ codebooks and encode the corpus.

    The vector splits into ``m`` contiguous subspaces; each gets a
    ``ksub``-centroid codebook: seeds are the element-wise means of the
    ``id % ksub`` groups (deterministic, no RNG), refined by exactly
    ONE Lloyd round (assign by L2, re-average; a cluster losing all
    members drops out and its code is simply never emitted), then the
    corpus encodes against the refined codebook. Everything is
    DataFrame ops — codebooks never touch the driver, and the whole
    build is SQL-reproducible (the q89 oracle replays seeds → round →
    encode verbatim).

    Returns ``(codebook, codes)``: codebook (sub, code, dl, mval) is
    dictionary-sized (m × ksub × dsub rows); codes (id, sub, code) is
    the compressed corpus — m small ints per vector, the artifact that
    makes a 100 TB corpus scannable from a fraction of the footprint.
    """
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("pq_build: corpus is empty or first vector is NULL")
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(
            f"pq_build: dim {dim} not divisible by m={m} subspaces"
        )
    dsub = dim // m
    # pts feeds four consumers but is deliberately NOT persisted: the
    # posexplode is a cheap narrow pipeline over the scan, while
    # caching it materializes a dim-fold row explosion — measured
    # slower locally, and a non-starter memory footprint at scale
    pts = _subdims(corpus, id_col, vec_col, dsub)
    cent0 = (
        pts.withColumn("_c_", F.pmod("_id_", F.lit(ksub)))
        .groupBy("_sub_", "_c_", "_dl_")
        .agg(F.avg("_x_").alias("_m_"))
    )
    assign0 = _l2_argmin(pts, cent0)
    # The refined codebook is persisted: it is dictionary-sized
    # (m × ksub × dsub rows) while its PLAN is corpus-scale (two
    # aggregations over pts plus the Lloyd assign join). Without the
    # persist every downstream consumer re-executes that training —
    # pq_adc_topk alone runs it three times (the dsub probe, the
    # broadcast LUT build, and again inside the codes argmin), i.e.
    # three full corpus passes for one training result (r13, guide
    # §2.4). Its owner: ``session.owned``.
    cent1 = keep(
        pts.join(assign0, ["_id_", "_sub_"])
        .groupBy("_sub_", "_c_", "_dl_")
        .agg(F.avg("_x_").alias("_m_"))
    )
    codes = _l2_argmin(pts, cent1).select(
        F.col("_id_").alias(id_col),
        F.col("_sub_").alias("sub"),
        F.col("_c_").alias("code"),
    )
    codebook = cent1.select(
        F.col("_sub_").alias("sub"),
        F.col("_c_").alias("code"),
        F.col("_dl_").alias("dl"),
        F.col("_m_").alias("mval"),
    )
    return codebook, codes


def pq_adc_topk(
    codebook: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
    dist_decimals: int = 6,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: per query
    build the (sub, code) → squared-subdistance lookup table (LUT, an
    m×ksub grid — constant-sized), then score every encoded vector as
    the sum of its ``m`` table entries. No raw corpus vectors are read
    — only the codes table, the PQ scan-cost story.

    ``candidates`` (query_id, neighbor_id) restricts scoring to the
    given pairs — pass the IVF probe expansion (probed lists joined to
    list membership) to get IVF-PQ: the ADC scan touches only
    ~nprobe/n_lists of the codes instead of all of them.

    Ranking uses the distance ROUNDED to ``dist_decimals`` with the
    neighbor id as tie-break: distinct vectors sharing a code tuple
    have IDENTICAL true distances, so a raw float order would be
    engine-dependent in the last bit. Returns (query_id, neighbor_id,
    adist, rk), ascending distance.

    The LUT side is queries × m × ksub rows (broadcast); the scan is
    one equi-join on (sub, code) plus a (query, neighbor) sum — at
    cluster scale, compose with IVF probe lists to bound the scanned
    codes (IVF-PQ) rather than scanning every code."""
    dsub = codebook.groupBy().agg((F.max("dl") + 1).alias("_w_")).first()["_w_"]
    q = _subdims(queries, id_col, vec_col, dsub)
    lut = (
        q.join(
            F.broadcast(
                codebook.select(
                    F.col("sub").alias("_sub_"),
                    F.col("code").alias("_c_"),
                    F.col("dl").alias("_dl_"),
                    "mval",
                )
            ),
            ["_sub_", "_dl_"],
        )
        .groupBy("_id_", "_sub_", "_c_")
        .agg(
            F.round(
                F.sum((F.col("_x_") - F.col("mval")) ** 2), 9
            ).alias("_d2_")
        )
        .select(
            F.col("_id_").alias("query_id"),
            F.col("_sub_").alias("sub"),
            F.col("_c_").alias("code"),
            "_d2_",
        )
    )
    scanned = codes.withColumnRenamed(id_col, "neighbor_id")
    if candidates is not None:
        scanned = scanned.join(
            candidates.select("query_id", "neighbor_id"), "neighbor_id"
        ).join(F.broadcast(lut), ["sub", "code", "query_id"])
    else:
        scanned = scanned.join(F.broadcast(lut), ["sub", "code"])
    scored = (
        scanned.groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("_d2_"), dist_decimals).alias("adist"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    *,
    k: int = 5,
    query_vec_col: str | None = None,
    query_id_col: str | None = None,
    exclude_self: bool = True,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """k-nearest-neighbor classification over an embedding corpus: the
    majority ``label_col`` among each query's ``k`` nearest neighbors
    by cosine. The standard zero-training baseline a curation
    pipeline runs off the SAME ANN machinery it already has — label
    propagation for quality/domain/topic tags from a small labeled
    seed set to the whole corpus.

    ``exclude_self=True`` (default) drops corpus rows whose id equals
    the query's id — right when queries are drawn FROM the corpus
    (leave-one-out). When query ids live in a DIFFERENT id space,
    pass ``exclude_self=False`` or an accidental id collision silently
    removes a legitimate neighbor (same contract note as
    ``minhash_probe``: the caller decides identity).

    Determinism (oracle-gate ready): neighbors rank on the MICRO-
    INTEGER floor(cos * 1e6) (ties to the smallest neighbor id), and
    the vote argmax breaks ties by (votes desc, best sim_micro desc,
    label asc) — no double ever decides a boundary. Zero-norm vectors
    score 0 (``cosine_similarity``'s contract; DuckDB NaN would sort
    ABOVE every number and flip ranks).

    ``candidates`` (query_id, neighbor_id) restricts scoring and
    voting to the given pairs — pass ``ivf_cosine_topk``/
    ``pq_adc_topk`` output (or a raw probe expansion) to get the
    100 TB path: the pairwise stage touches only the candidate pairs
    instead of queries × corpus, and the corpus is reached through an
    equi-join on id rather than a broadcast cross product.

    Returns (query_id, pred_label, votes, best_sim_micro). Without
    ``candidates`` this is the exact-baseline shape (queries broadcast
    against one corpus scan, same contract as ``cosine_topk``).
    """
    from demy_spark.functions.vectors import dot, l2_norm

    qv = query_vec_col or vec_col
    qi = query_id_col or id_col
    # norms hoisted per VECTOR, not per pair: the query norm is
    # computed once before the broadcast and the corpus norm once per
    # scan row, so the pairwise stage pays exactly one dot-product
    # fold per pair instead of three (semdedup's measured 22.6→3.5 s
    # fix, same shape; the doubles are bit-identical either way)
    q = queries.select(
        F.col(qi).alias("query_id"),
        F.col(qv).alias("_qv_"),
    ).withColumn("_qn_", l2_norm("_qv_"))
    c = corpus.select(
        F.col(id_col).alias("_nid_"),
        F.col(vec_col).alias("_cv_"),
        F.col(label_col).alias("_lbl_"),
    ).withColumn("_cn_", l2_norm("_cv_"))
    cos = F.when(
        (F.col("_cn_") > 0) & (F.col("_qn_") > 0),
        dot("_cv_", "_qv_") / (F.col("_cn_") * F.col("_qn_")),
    ).otherwise(F.lit(0.0))
    if candidates is not None:
        pairs = (
            candidates.select("query_id", F.col("neighbor_id").alias("_nid_"))
            .join(c, "_nid_")
            .join(F.broadcast(q), "query_id")
        )
        if exclude_self:
            pairs = pairs.where(F.col("_nid_") != F.col("query_id"))
    else:
        pair_cond = (
            F.col("_nid_") != F.col("query_id") if exclude_self else F.lit(True)
        )
        pairs = c.join(F.broadcast(q), pair_cond)
    scored = pairs.select(
        "query_id",
        "_nid_",
        "_lbl_",
        F.floor(cos * 1_000_000).cast("long").alias("_sim_"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim_").desc(), F.col("_nid_").asc()
    )
    votes = (
        scored.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") <= k)
        .groupBy("query_id", "_lbl_")
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.max("_sim_").alias("best_sim_micro"),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(),
        F.col("best_sim_micro").desc(),
        F.col("_lbl_").asc(),
    )
    return (
        votes.withColumn("_vr_", F.row_number().over(wv))
        .where(F.col("_vr_") == 1)
        .select(
            "query_id",
            F.col("_lbl_").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
            "best_sim_micro",
        )
    )
