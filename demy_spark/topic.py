"""Topic operators: seeded (tagged) k-means and hierarchical topic-tree
routing.

Parity targets:
- ``PhraseClustering`` (text/PhraseClustering.scala:16-572): k-means
  over phrase vectors with user-context seed centers (tagged rows),
  iterate until cost stops improving. The reference's own shape is
  "assign distributed, update centers on driver" — kept here, because
  k×dim floats is driver-sized at any corpus scale.
- ``ClusteringNode`` center updates (topic/ClusteringNode.scala:
  378-407): running weighted means — the batch Lloyd update is the
  batch equivalent.
- ``Node.walk`` routing (topic/Node.scala:92-126): a document descends
  the tree to the child with the best similarity at each level.

Scale notes: the assign step defaults to an Arrow-batched numpy
matmul against the broadcast k×dim center matrix — the O(n·d·k) flops
run as one BLAS call per batch with no shuffle at all (SURVEY §2.10's
prescribed mapping). A pure-DataFrame formulation (posexplode dims →
broadcast-join exploded centers → keyed sum-of-products → window
argmax, method="sql") computes the identical assignment and is what
the DuckDB oracles mirror term by term. Center update is one keyed
avg; only k×dim aggregated floats ever reach the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.io import local_frame
from demy_spark.session import keep, owned


def _explode_dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id_"), F.posexplode(vec_col).alias("_d_", "_x_")
    )


def _centers_df(spark, centers: list[list[float]]) -> DataFrame:
    rows = [
        (c, d, float(x)) for c, vec in enumerate(centers) for d, x in enumerate(vec)
    ]
    return local_frame(spark, rows, "_c_ long, _d_ long, _w_ double")


def _nearest_centers(X, C, Cn):
    """The ONE nearest-center-by-cosine kernel (ties → lowest cluster
    id; zero-norm centers never win; all-NaN rows → cluster 0), shared
    by assign_to_centers and the fused Lloyd update so the two paths
    cannot drift. Returns (best cluster indices, full sims matrix)."""
    import numpy as np

    dots = X @ C.T
    denom = np.outer(np.linalg.norm(X, axis=1), Cn)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom > 0.0, dots / denom, np.nan)
    key = np.where(np.isnan(sims), -np.inf, sims)
    best = key.argmax(axis=1)  # first max → lowest cluster on ties
    best[np.isnan(sims).all(axis=1)] = 0
    return best, sims


def assign_to_centers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers: list[list[float]],
    *,
    method: str = "numpy",
) -> DataFrame:
    """Nearest center per row by cosine (ties → lowest cluster id;
    zero-norm centers never win; all-null similarities → cluster 0
    with null sim). Returns (id, cluster, sim).

    method="numpy" (default): one BLAS matmul per Arrow batch against
    the closure-captured k×dim center matrix — O(n·d·k) flops stay
    vectorized instead of materializing n·d·k joined rows (the SQL
    join shape measured ~5× slower training IVF at 20k vecs × 64d ×
    32 centers). method="sql" keeps the pure-DataFrame formulation
    (posexplode dims → broadcast-join exploded centers → keyed
    sum-of-products → argmax window) — same assignment, and the shape
    the DuckDB oracles mirror term by term."""
    if method == "sql":
        return _assign_to_centers_sql(df, id_col, vec_col, centers)

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            best, sims = _nearest_centers(X, C, Cn)
            # all-NaN rows were redirected to cluster 0, whose sim is
            # NaN too — identical to indexing before the redirect
            best_sim = sims[np.arange(len(X)), best]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": best.astype("int32"),
                    # nullable Float64: NaN (zero-norm) → true null,
                    # matching the SQL path's nullif
                    "sim": pd.Series(best_sim, dtype="Float64"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(batches, out_schema)


def _assign_to_centers_sql(
    df: DataFrame, id_col: str, vec_col: str, centers: list[list[float]]
) -> DataFrame:
    spark = df.sparkSession
    dims = _explode_dims(df, id_col, vec_col)
    cent = _centers_df(spark, centers)
    norm_c = cent.groupBy("_c_").agg(F.sqrt(F.sum(F.col("_w_") ** 2)).alias("_nc_"))
    dots = (
        dims.join(F.broadcast(cent), "_d_")
        .groupBy("_id_", "_c_")
        .agg(F.sum(F.col("_x_") * F.col("_w_")).alias("_dot_"))
    )
    norms = dims.groupBy("_id_").agg(F.sqrt(F.sum(F.col("_x_") ** 2)).alias("_nx_"))
    sim = (
        dots.join(F.broadcast(norm_c), "_c_")
        .join(norms, "_id_")
        .select(
            "_id_",
            "_c_",
            (F.col("_dot_") / F.nullif(F.col("_nx_") * F.col("_nc_"), F.lit(0.0))).alias(
                "_sim_"
            ),
        )
    )
    w = Window.partitionBy("_id_").orderBy(F.desc("_sim_"), F.asc("_c_"))
    return (
        sim.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") == 1)
        .select(
            F.col("_id_").alias(id_col),
            F.col("_c_").cast("int").alias("cluster"),
            F.col("_sim_").alias("sim"),
        )
    )


def _update_centers(
    df: DataFrame, vec_col: str, centers: list[list[float]], k: int, dim: int
) -> list[list[float]]:
    """One Lloyd round's new centers in ONE corpus pass: each Arrow
    batch assigns its vectors to the nearest center (the
    assign_to_centers kernel, shared via _nearest_centers) and emits
    per-cluster partial sums in the same function — only
    (≤ batches × k) rows of k×dim floats reach the driver, never the
    vectors. Empty clusters keep a zero vector (the reference re-seeds
    them from orphan tags; callers can too).

    r13 shape: the previous round computed the assignment in a
    SEPARATE mapInPandas pass and re-joined it to the corpus by id —
    two corpus-scale exchanges (plus a second Python crossing of every
    vector) per iteration to re-attach information the batch already
    had in hand. Fused, a Lloyd iteration is a single narrow
    scan-side pass with zero exchanges: one job per round, and at any
    scale no vector ever moves between executors during training
    (guide §2.4 — remove shuffles outright)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("psum", T.ArrayType(T.DoubleType())),
            T.StructField("pn", T.LongType()),
        ]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            cl, _ = _nearest_centers(X, C, Cn)
            rows = [
                (int(c), X[cl == c].sum(axis=0).tolist(), int((cl == c).sum()))
                for c in np.unique(cl)
            ]
            yield pd.DataFrame(rows, columns=["cluster", "psum", "pn"])

    sums = np.zeros((k, dim))
    counts = np.zeros(k, dtype=np.int64)
    for r in df.select(vec_col).mapInPandas(batches, schema).collect():
        sums[r["cluster"]] += np.asarray(r["psum"])
        counts[r["cluster"]] += r["pn"]
    return [
        (sums[c] / counts[c]).tolist() if counts[c] else [0.0] * dim
        for c in range(k)
    ]


def seed_centers_from_tags(
    df: DataFrame, id_col: str, vec_col: str, tags: DataFrame, tag_col: str = "tag"
) -> list[list[float]]:
    """Initial centers = per-tag element-wise mean of tagged vectors
    (PhraseClustering's user-context seeds, tag order = tag asc)."""
    dims = _explode_dims(df, id_col, vec_col)
    tagged = dims.join(tags.select(F.col(id_col).alias("_id_"), tag_col), "_id_")
    rows = tagged.groupBy(tag_col, "_d_").agg(F.avg("_x_").alias("_m_")).collect()
    by_tag: dict = {}
    for r in rows:
        by_tag.setdefault(r[tag_col], {})[r["_d_"]] = r["_m_"]
    centers = []
    for tag in sorted(by_tag):
        d = by_tag[tag]
        centers.append([d.get(i, 0.0) for i in range(max(d) + 1)])
    return centers


def seeded_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers: list[list[float]],
    *,
    max_iters: int = 10,
    tol: float = 1e-4,
) -> tuple[DataFrame, list[list[float]], int]:
    """Lloyd iterations from explicit seed centers; stops when the max
    center shift drops below ``tol``. Returns (assignments, centers,
    iterations). The input frame is persisted across iterations —
    each round is exactly one narrow pass over it (the fused
    _update_centers), plus one final pass for the returned
    assignment."""
    k, dim = len(centers), len(centers[0])
    with owned():
        base = keep(df.select(id_col, vec_col))
        it = 0
        for it in range(1, max_iters + 1):
            new_centers = _update_centers(base, vec_col, centers, k, dim)
            shift = max(
                abs(a - b)
                for row_a, row_b in zip(centers, new_centers)
                for a, b in zip(row_a, row_b)
            )
            centers = new_centers
            if shift < tol:
                break
        return assign_to_centers(base, id_col, vec_col, centers), centers, it


def online_center_updates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    topwords: list[list[float]],
    *,
    n_centers: int = 2,
    batch_size: int = 32,
    weight: float = 1.0,
) -> DataFrame:
    """ClusteringNode's online statistics (``affectPoint``,
    topic/ClusteringNode.scala:378-407) as a deterministic mini-batch
    operator over FIXED topwords (fit=false — topword mutation via
    ``tryAsPoint`` is the semi-supervised edit loop, out of scope here).

    Two phases, Spark-shaped:
    1. distributed assignment: each vector's best topword by
       similarityScore = (cos+1)/2 (``:340-353``) — the same
       explode/broadcast-join/argmax plan as
       ``assign_to_centers(method="sql")``; ties break to the LOWEST
       topword index (deterministic; the reference iterates an
       unordered Scala Map, so its tie order is unspecified);
    2. an ordered fold of the running-average update equations over the
       first ``batch_size`` rows by ``id_col``. The reference streams
       every row through driver-side tree state; bounding the batch
       keeps driver state dictionary-sized while reproducing the exact
       equations — the 100 TB path runs phase 1 distributed on the full
       table and folds only a bounded calibration batch.

    Update equations (``:389-406``), w = weight, per point with
    topword ip / center ic = ip % n_centers and score s:
      p[ip] += s·w                      (FIRST — the updated value
      vC[ip] = vC[ip]·(p[ip]/(p[ip]+w))  feeds the center blend)
               + v·(w/(p[ip]+w))
      pGAP[ip] = 1 − simScore(vC[ip], points[ip])
      cErr[ic] = cErr[ic]·(h/(h+w)) + (1−s)·(w/(h+w)),  h = cHits[ic]
      cHits[ic] = h + w
    Node metrics (``:204-212``): clusterScore = 1 − Σ cErr·cHits / Σ
    cHits; clusterBalance = 1 − (Σ|avg−h|/2)/(Σh − avg).

    Returns one row per topword: (i_point, i_center, p_score, p_gap,
    v_center_norm, c_error, c_hits, cluster_score, cluster_balance).
    Oracle: queries.q71_online_centers unrolls the fold step by step in
    DuckDB.
    """
    import numpy as np
    from pyspark.sql import types as T

    P = np.asarray(topwords, dtype=np.float64)
    k, dim = P.shape
    Pn = np.linalg.norm(P, axis=1)

    batch = df.select(id_col, vec_col).orderBy(id_col).limit(batch_size)
    assigned = _assign_to_centers_sql(batch, id_col, vec_col, topwords)
    rows = sorted(
        batch.join(assigned, id_col).collect(), key=lambda r: r[id_col]
    )

    p = np.zeros(k)
    vC = np.zeros((k, dim))
    cErr = np.zeros(n_centers)
    cHits = np.zeros(n_centers)
    w = float(weight)
    for r in rows:
        ip = int(r["cluster"])
        ic = ip % n_centers
        v = np.asarray(r[vec_col], dtype=np.float64)
        cos = r["sim"]
        s = 0.5 if cos is None else (float(cos) + 1.0) / 2.0
        p[ip] += s * w
        pp = p[ip]
        vC[ip] = vC[ip] * (pp / (pp + w)) + v * (w / (pp + w))
        h = cHits[ic]
        cErr[ic] = cErr[ic] * (h / (h + w)) + (1.0 - s) * (w / (h + w))
        cHits[ic] = h + w

    tot = float(cHits.sum())
    cluster_score = 0.0 if tot == 0 else 1.0 - float((cErr * cHits).sum()) / tot
    if tot == 0:
        balance = 0.0
    else:
        avg = tot / n_centers
        excedent = float(np.abs(avg - cHits).sum()) / 2.0
        max_excedent = tot - avg
        balance = 1.0 if max_excedent == 0 else 1.0 - excedent / max_excedent

    out = []
    for ip in range(k):
        ic = ip % n_centers
        if p[ip] > 0:
            nv = float(np.linalg.norm(vC[ip]))
            cos = (
                float(np.dot(vC[ip], P[ip])) / (nv * float(Pn[ip]))
                if nv > 0 and Pn[ip] > 0
                else 0.0
            )
            gap = 1.0 - (cos + 1.0) / 2.0
        else:
            gap = 0.0
        out.append(
            (
                ip,
                ic,
                float(p[ip]),
                gap,
                float(np.linalg.norm(vC[ip])),
                float(cErr[ic]),
                float(cHits[ic]),
                cluster_score,
                balance,
            )
        )
    schema = T.StructType(
        [
            T.StructField("i_point", T.IntegerType()),
            T.StructField("i_center", T.IntegerType()),
            T.StructField("p_score", T.DoubleType()),
            T.StructField("p_gap", T.DoubleType()),
            T.StructField("v_center_norm", T.DoubleType()),
            T.StructField("c_error", T.DoubleType()),
            T.StructField("c_hits", T.DoubleType()),
            T.StructField("cluster_score", T.DoubleType()),
            T.StructField("cluster_balance", T.DoubleType()),
        ]
    )
    return local_frame(df.sparkSession, out, schema)


def online_fit_updates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    topwords: list[list[float]],
    *,
    n_centers: int = 2,
    batch_size: int = 32,
    weight: float = 1.0,
) -> DataFrame:
    """ClusteringNode's fit=true path — ``affectPoint`` WITH the
    ``tryAsPoint`` topword mutation (topic/ClusteringNode.scala:
    378-448, option 3): folding the bounded batch in id order, each
    vector (a) routes to its best current topword by similarityScore
    — the topword set MUTATES during the fold, so assignment lives
    inside it, exactly the reference's sequential semantics; (b) may
    REPLACE that topword first: it does iff it lowers the topword's
    GAP (``1 − simScore(vCenter, v) < pGAP``) and is not "too close"
    (more similar to the node's running center than to the routed
    class's summed topwords); then (c) applies the q71 running-average
    update equations. Ties in routing break to the lowest topword
    index (the reference iterates an unordered Map; its order is
    unspecified).

    The batch is bounded (driver state stays k×dim — the reference
    streams ALL rows through driver-side tree state); the
    transform-side 100 TB path remains the distributed fixed-topword
    assignment of ``online_center_updates``.

    Returns one row per topword: (i_point, i_center, p_score, p_gap,
    c_error, c_hits, n_replacements, point_norm).
    """
    import numpy as np
    from pyspark.sql import types as T

    P = np.asarray(topwords, dtype=np.float64).copy()
    k, dim = P.shape
    rows = sorted(
        df.select(id_col, vec_col).orderBy(id_col).limit(batch_size).collect(),
        key=lambda r: r[id_col],
    )

    def simscore(a: np.ndarray, b: np.ndarray) -> float:
        na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
        cos = float(np.dot(a, b)) / (na * nb) if na > 0 and nb > 0 else 0.0
        return (cos + 1.0) / 2.0

    p = np.zeros(k)
    vC = np.zeros((k, dim))
    pGAP = np.zeros(k)
    cErr = np.zeros(n_centers)
    cHits = np.zeros(n_centers)
    center = np.zeros(dim)
    n_repl = np.zeros(k, dtype=np.int64)
    w = float(weight)

    for r in rows:
        v = np.asarray(r[vec_col], dtype=np.float64)
        sims = [simscore(v, P[i]) for i in range(k)]
        ip = int(np.argmax(sims))  # ties -> lowest index
        ic = ip % n_centers
        s = sims[ip]
        # affectPoint order (scala:389-406): pScores FIRST, then the
        # mutation attempt against the PRE-UPDATE vCenters/pGAP
        p[ip] += s * w
        new_gap = 1.0 - simscore(vC[ip], v)
        class_points = sum(
            (P[i] for i in range(k) if i % n_centers == ic),
            np.zeros(dim),
        )
        too_close = simscore(center, v) > simscore(class_points, v)
        if new_gap - pGAP[ip] < 0 and not too_close:
            P[ip] = v
            n_repl[ip] += 1
        pp = p[ip]
        vC[ip] = vC[ip] * (pp / (pp + w)) + v * (w / (pp + w))
        tot = float(p.sum())
        center = (vC * p[:, None]).sum(axis=0) / tot if tot > 0 else center
        pGAP[ip] = 1.0 - simscore(vC[ip], P[ip])
        h = cHits[ic]
        cErr[ic] = cErr[ic] * (h / (h + w)) + (1.0 - s) * (w / (h + w))
        cHits[ic] = h + w

    out = [
        (
            ip,
            ip % n_centers,
            float(p[ip]),
            float(pGAP[ip]),
            float(cErr[ip % n_centers]),
            float(cHits[ip % n_centers]),
            int(n_repl[ip]),
            float(np.linalg.norm(P[ip])),
        )
        for ip in range(k)
    ]
    schema = T.StructType(
        [
            T.StructField("i_point", T.IntegerType()),
            T.StructField("i_center", T.IntegerType()),
            T.StructField("p_score", T.DoubleType()),
            T.StructField("p_gap", T.DoubleType()),
            T.StructField("c_error", T.DoubleType()),
            T.StructField("c_hits", T.DoubleType()),
            T.StructField("n_replacements", T.IntegerType()),
            T.StructField("point_norm", T.DoubleType()),
        ]
    )
    return local_frame(df.sparkSession, out, schema)


def grow_topic_tree(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    topwords: list[list[float]],
    *,
    n_centers: int = 2,
    child_split_size: float = 50.0,
    weight: float = 1.0,
    sim_decimals: int = 6,
    max_depth: int = 8,
) -> DataFrame:
    """ClusteringNode child spawning (topic/ClusteringNode.scala:18-628):
    grow the topic tree by recursively splitting nodes at
    ``childSplitSize`` — the piece q71's online statistics compose into.

    Reference semantics re-expressed (``score``:320-331 +
    ``fillChildren``:572-597): a node spawns one child per class center
    when (a) the mass routed through it ``sum(pScores) > childSplitSize``
    and (b) every parent center's hit count also exceeds
    ``childSplitSize`` (root has no parent); child ``ic`` inherits the
    parent topwords at local index ≡ ic (mod n_centers) and the rows
    the parent routed to center ic; recursion stops when a node has
    ≤ n_centers topwords (nothing left to split), the threshold fails,
    or ``max_depth`` is hit.

    Spark shape: BOTH spawn inputs are order-independent sums, so the
    whole decision runs distributed — per-row topword similarities
    ((cos+1)/2, rounded to ``sim_decimals`` so replay engines agree)
    are computed ONCE against the literal topword matrix and persisted;
    each level is an argmax window over the node's topword subset plus
    a per-node aggregate; only dictionary-sized (node × center) rows
    ever reach the driver. The reference streams rows through mutable
    tree state instead — same decisions, driver-free data path here.

    Returns one row per materialized node: (node, depth, n_topwords,
    n_rows, pscore_sum, spawned).
    """
    spark = df.sparkSession
    k = len(topwords)
    tw = F.array(
        *[F.array(*[F.lit(float(x)) for x in w]) for w in topwords]
    )
    base = df.select(
        F.col(id_col).alias("_id_"),
        F.col(vec_col).cast("array<double>").alias("_v_"),
    )
    from demy_spark.functions.vectors import cosine_similarity

    ex = base.select("_id_", "_v_", F.posexplode(tw).alias("_ip_", "_w_"))
    cos = cosine_similarity(F.col("_v_"), F.col("_w_"))
    results: list[tuple] = []
    # frontier: node path -> (global topword indices, rows frame of _id_)
    frontier: list[tuple[str, list[int], DataFrame, bool]] = [
        ("root", list(range(k)), base.select("_id_"), True)
    ]
    depth = 0
    with owned():
        sims = keep(
            ex.select(
                "_id_",
                "_ip_",
                F.round((cos + 1.0) / 2.0, sim_decimals).alias("_s_"),
            )
        )
        while frontier and depth <= max_depth:
            nxt: list[tuple[str, list[int], DataFrame, bool]] = []
            for node, indices, rows, parent_ok in frontier:
                mdf = F.broadcast(
                    local_frame(
                        spark,
                        [(ip, j) for j, ip in enumerate(indices)],
                        "_ip_ int, _j_ int",
                    )
                )
                w_rank = Window.partitionBy("_id_").orderBy(
                    F.desc("_s_"), F.asc("_ip_")
                )
                best = keep(
                    rows.join(sims, "_id_")
                    .join(mdf, "_ip_")
                    .withColumn("_rk_", F.row_number().over(w_rank))
                    .where(F.col("_rk_") == 1)
                    .select(
                        "_id_",
                        (F.col("_j_") % n_centers).alias("_ic_"),
                        "_s_",
                    )
                )
                stats = best.groupBy("_ic_").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("_s_").alias("ps"),
                )
                srows = stats.collect()  # ≤ n_centers rows
                n_rows = sum(r["n"] for r in srows)
                # pScores accumulate s·w per row, so their sum is w·Σs
                pscore_sum = round(
                    weight * sum(r["ps"] or 0.0 for r in srows), 6
                )
                c_hits = {r["_ic_"]: r["n"] * weight for r in srows}
                spawn = (
                    len(indices) > n_centers
                    and depth < max_depth
                    and pscore_sum > child_split_size
                    and parent_ok
                )
                results.append(
                    (node, depth, len(indices), n_rows, pscore_sum, spawn)
                )
                if spawn:
                    # children may themselves spawn only if EVERY center
                    # of this node cleared the threshold (score:326)
                    child_ok = all(
                        c_hits.get(ic, 0.0) > child_split_size
                        for ic in range(n_centers)
                    )
                    for ic in range(n_centers):
                        child_idx = [
                            ip
                            for j, ip in enumerate(indices)
                            if j % n_centers == ic
                        ]
                        child_rows = best.where(F.col("_ic_") == ic).select(
                            "_id_"
                        )
                        nxt.append(
                            (f"{node}/{ic}", child_idx, child_rows, child_ok)
                        )
            frontier = nxt
            depth += 1

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", T.StringType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("n_topwords", T.IntegerType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("pscore_sum", T.DoubleType()),
            T.StructField("spawned", T.BooleanType()),
        ]
    )
    return local_frame(spark, results, schema)


def analogy_direction(
    pairs: DataFrame, a_col: str, b_col: str
) -> list[float]:
    """Mean difference vector over analogy pairs (AnalogyNode's
    averaged-analogy mode, topic/AnalogyNode.scala:107-115): one
    posexplode + keyed avg; only dim floats reach the driver."""
    dims = pairs.select(
        F.posexplode(a_col).alias("_d_", "_a_"),
        F.col(b_col).alias("_bv_"),
    ).select("_d_", (F.element_at("_bv_", F.col("_d_") + 1) - F.col("_a_")).alias("_diff_"))
    rows = dims.groupBy("_d_").agg(F.avg("_diff_").alias("_m_")).orderBy("_d_").collect()
    return [r["_m_"] for r in rows]


def analogy_score(
    df: DataFrame,
    x_col: str,
    y_col: str,
    direction: list[float],
    *,
    out_col: str = "analogy_score",
) -> DataFrame:
    """Score how well (x → y) follows the analogy ``direction``:
    similarityScore = (cos(y−x, direction)+1)/2 ∈ [0,1] (the
    reference's similarity normalization, linalg/implicits.scala:
    21-102)."""
    from demy_spark.functions.vectors import cosine_similarity, vec_minus

    d = F.array(*[F.lit(float(v)) for v in direction])
    cos = cosine_similarity(vec_minus(F.col(y_col), F.col(x_col)), d)
    return df.withColumn(out_col, F.round((cos + 1.0) / 2.0, 6))


@dataclass
class TopicNode:
    """Topic-tree node: route by best-cosine child, classify at leaves
    (topic/Node.scala:92-126 ``walk``, simplified to similarity
    routing — FilterMode facts reduce to 'child with best score')."""

    name: str
    center: list[float] | None = None  # None for the root
    children: list["TopicNode"] = field(default_factory=list)


def topic_tree_to_params(
    root: "TopicNode", *, algo: str = "clustering"
) -> list[dict]:
    """Serialize a topic tree to the reference's NodeParams JSON shape
    (topic/NodeParams.scala:41-63, Node.scala:217-246): a FLAT list of
    camelCase node dicts, children referenced by list index, preorder.
    Vectors are NOT serialized — the reference keeps them in a separate
    VectorIndex keyed by node tokens; pair with
    ``topic_tree_from_params(centers=...)`` to rehydrate."""
    out: list[dict] = []

    def visit(node: "TopicNode") -> int:
        idx = len(out)
        out.append(
            {
                "name": node.name,
                "tagId": None,
                "color": None,
                "annotations": [],
                "algo": algo,
                "strLinks": {},
                "strClassPath": {},
                "names": {},
                "filterMode": "noFilter",
                "filterValue": [],
                "maxTopWords": None,
                "windowSize": None,
                "classCenters": None,
                "cError": None,
                "childSplitSize": None,
                "children": [],
                "hits": 0.0,
                "metrics": {},
            }
        )
        out[idx]["children"] = [visit(c) for c in node.children]
        return idx

    visit(root)
    return out


def topic_tree_from_params(
    params: list[dict],
    *,
    centers: dict[str, list[float]] | None = None,
    root_index: int = 0,
) -> "TopicNode":
    """Build a TopicNode tree from a NodeParams-shaped flat list (the
    reference's JSON artifact format — index-linked children, camelCase
    fields). ``centers`` plays the VectorIndex role: node name →
    vector; nodes absent from it keep ``center=None`` (routing treats
    the root that way already). Unknown extra fields are ignored, so
    artifacts written by the reference load as-is."""
    centers = centers or {}

    def build(i: int) -> "TopicNode":
        p = params[i]
        return TopicNode(
            name=p["name"],
            center=centers.get(p["name"]),
            children=[build(int(c)) for c in p.get("children", [])],
        )

    return build(root_index)


def walk_topic_tree(
    df: DataFrame, id_col: str, vec_col: str, root: TopicNode
) -> DataFrame:
    """Assign each row to a leaf topic by descending the tree level by
    level: at each node, the row goes to the child whose center has the
    best cosine. One assign job per tree LEVEL (not per node) — rows
    at different nodes of the same depth are routed in a single plan
    pass, keyed by their current node."""
    current = df.select(F.col(id_col).alias(id_col), vec_col).withColumn(
        "_node_", F.lit(root.name)
    )
    frontier = [root]
    while any(n.children for n in frontier):
        parts = []
        next_frontier: list[TopicNode] = []
        for node in frontier:
            rows = current.where(F.col("_node_") == node.name)
            if not node.children:
                parts.append(rows)
                continue
            next_frontier.extend(node.children)
            assigned = assign_to_centers(
                rows, id_col, vec_col, [c.center for c in node.children]
            )
            name_map = F.array(*[F.lit(c.name) for c in node.children])
            routed = (
                rows.drop("_node_")
                .join(assigned.select(id_col, "cluster"), id_col)
                .withColumn("_node_", F.element_at(name_map, F.col("cluster") + 1))
                .drop("cluster")
            )
            parts.append(routed)
        current = parts[0]
        for p in parts[1:]:
            current = current.unionByName(p)
        frontier = next_frontier or frontier
        if not next_frontier:
            break
    return current.withColumnRenamed("_node_", "topic")
