"""Training-corpus curation operators: benchmark decontamination,
canonical-document selection, and deterministic corpus mixing.

These are LLM-pipeline extensions (no analog in the reference engine —
its dedup surface stops at exact groupBy dedup, e.g. latest-wins merge
`topic/Tag.scala:108-120`); they compose the dedup/sampling primitives
into the three curation steps every large-scale training-data pipeline
runs between "raw corpus" and "training mix":

- ``contamination_check``: flag evaluation documents whose content
  leaks from the training corpus — exact (normalized fingerprint) and
  near (n-gram shingle overlap ratio), the standard decontamination
  test applied between train corpora and eval benchmarks.
- ``canonical_per_cluster``: after duplicate clustering
  (``operators/dedup.assign_clusters``), keep exactly one
  representative document per cluster by an explicit quality order.
- ``mixture_sample``: materialize a target corpus mixture (absolute
  per-stratum shares of a fixed total) with largest-remainder
  apportionment and deterministic bottom-k row selection — the "data
  mixing" step, reproducible row-for-row on any engine.

Scale notes: contamination never broadcasts the training side — both
shingle frames shuffle co-keyed on the 60-bit shingle hash and the
verdict is a per-test-doc aggregate, so the op survives a 100 TB train
corpus; canonical selection is one window over the cluster key;
mixture planning runs on the dictionary-sized per-stratum count frame
(single-partition window over a constant-size input), while row
selection is a per-stratum rank window on the data — one shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.operators.dedup import _md5_long
from demy_spark.operators.sampling import knuth_unit
from demy_spark.session import keep

__all__ = [
    "contamination_check",
    "canonical_per_cluster",
    "mixture_sample",
    "mixture_targets",
    "source_overlap_matrix",
    "snapshot_diff",
    "norm_fingerprint",
    "winnow_fingerprints",
    "winnow_pairs",
]


def _norm_tokens(text: Column) -> Column:
    """Back-compat alias of ``functions.textstats.norm_tokens`` — the
    single-space oracle-contract tokenization now lives there so every
    oracle-backed operator shares ONE definition."""
    from demy_spark.functions.textstats import norm_tokens

    return norm_tokens(text)


def norm_fingerprint(text: Column) -> Column:
    """md5 of the single-space-normalized token stream — the exact-
    duplicate identity shared by ``contamination_check``'s exact path
    and ``snapshot_diff`` (kept in ONE place because the
    incremental-processing recipe depends on the two agreeing)."""
    return F.md5(F.concat_ws(" ", _norm_tokens(text)))


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` as 60-bit md5-slice
    hashes (DuckDB-replayable, see dedup._md5_long). Empty array when
    the document has fewer than ``n`` tokens."""
    from demy_spark.functions.textstats import word_grams

    grams = word_grams(_norm_tokens(text), n)
    return F.array_distinct(
        F.transform(grams, lambda g: _md5_long(g, 1))
    )


def winnow_fingerprints(
    text: Column, *, k: int = 4, w: int = 4
) -> Column:
    """Winnowing document fingerprints (the rolling local-minimum
    selection of Schleimer/Wilkerson/Aiken's MOSS): the ORDERED word
    ``k``-gram hash sequence, reduced to the distinct minima of every
    window of ``w`` consecutive hashes.

    Guarantees (from the paper's winnowing theorem): any token run of
    length >= k+w-1 shared between two documents contributes at least
    one IDENTICAL fingerprint to both, while expected density is only
    2/(w+1) of the grams — a position-robust document signature ~2-3x
    sparser than the full shingle set, which is what makes
    fingerprint-join near-dup detection cheap at corpus scale. A
    document shorter than one window keeps its single global minimum
    (standard fallback); fewer than ``k`` tokens → empty array.

    Pure per-row expressions: gram hashes via the 60-bit md5-slice
    contract (dedup._md5_long, DuckDB-replayable) and window minima via
    ``transform`` + ``array_min(slice(...))`` over a LET-BOUND hash
    array (text._let — an unbound reference would re-hash the whole
    gram sequence per window, the splitDoc pitfall). No shuffle, no
    UDF; O(T·w) per row."""
    from demy_spark.functions.text import _let
    from demy_spark.functions.textstats import norm_tokens, word_grams

    def with_toks(toks):
        hashes_expr = F.transform(
            word_grams(toks, k), lambda g: _md5_long(g, 1)
        )

        def with_hashes(hs):
            n = F.size(hs)
            n_windows = n - (w - 1)
            widx = F.when(
                n_windows >= 1, F.sequence(F.lit(1), n_windows)
            ).otherwise(F.array().cast("array<int>"))
            mins = F.transform(
                widx, lambda i: F.array_min(F.slice(hs, i, w))
            )
            return F.when(n == 0, F.array().cast("array<long>")).when(
                n < w, F.array(F.array_min(hs))
            ).otherwise(F.array_distinct(mins))

        return _let(hashes_expr, with_hashes)

    return _let(norm_tokens(text), with_toks)


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints:
    explode each document's fingerprint set, self-join on the
    fingerprint value (bucket-local — co-keyed shuffle on the 60-bit
    hash, NEVER all-pairs), and keep ordered pairs sharing at least
    ``min_shared`` fingerprints. Returns (left_id, right_id,
    shared_fingerprints). The winnowing theorem makes this the
    cheap screen for copied PASSAGES (any shared k+w-1 token run
    surfaces the pair), complementing minhash's whole-document
    Jaccard screen.

    The exploded (id, fingerprint) frame is lazily localCheckpoint-ed
    before the self-join: without it each join side re-runs the FULL
    winnowing expression (tokenize + md5 every k-gram + window minima
    — the dominant compute) over the corpus, doubling the hashing
    work at any scale (r13; measured 2.6 s → 1.2 s at sf0.1, and the
    plan's two identical Generate nodes collapse to one). Lazy, so
    the first downstream action materializes it exactly once; the
    narrow (id, long) rows are the cheapest possible thing to hold
    (the phrase_merges lineage-truncation idiom — blocks release with
    the RDD when the caller drops the result)."""
    fps = df.select(
        F.col(id_col).alias("_wid_"),
        F.explode(winnow_fingerprints(F.col(text_col), k=k, w=w)).alias(
            "_wfp_"
        ),
    ).localCheckpoint(eager=False)
    left = fps.select(F.col("_wid_").alias("left_id"), "_wfp_")
    right = fps.select(F.col("_wid_").alias("right_id"), "_wfp_")
    return (
        left.join(right, "_wfp_")
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").cast("long").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: for every ``test`` document, the
    fraction of its distinct word ``n``-gram shingles that occur
    anywhere in ``train``, plus an exact normalized-fingerprint match
    flag. A document is ``contaminated`` when it is an exact duplicate
    or its shingle overlap ratio reaches ``threshold``.

    Returns one row per test document:
    ``(id, n_shingles, n_hit, overlap_ratio, exact_dup, contaminated)``.
    Documents with fewer than ``n`` tokens have ``n_shingles = 0`` and
    count as contaminated only via the exact-duplicate path.

    Spark shape (sized for a train corpus far too large to broadcast):
    the train side reduces to DISTINCT shingle hashes (one shuffle,
    map-side combine), the test side explodes to (id, shingle) rows,
    and the hit test is a co-keyed LEFT SEMI equi-join on the 60-bit
    hash — no row explosion beyond the bounded shingles-per-doc, no
    driver state. The exact path is a second semi-join on the full-text
    fingerprint. Both joins shuffle on uniformly-distributed hashes, so
    skew cannot concentrate (a ubiquitous shingle is ONE row on the
    train side after the distinct)."""
    sh = shingle_hashes(F.col(text_col), n)
    fp = norm_fingerprint(F.col(text_col))

    # one tokenize+hash pass over the train corpus serves BOTH the
    # shingle set and the fingerprint set (persisted; two separate
    # scans would re-run the normalization twice over 100 TB)
    tr = keep(train.select(sh.alias("_shs_"), fp.alias("_fp_")))
    train_sh = tr.select(F.explode("_shs_").alias("_sh_")).distinct()
    train_fp = tr.select("_fp_").distinct()

    # the test-side shingle/fingerprint frame feeds three consumers
    # (shingle pairs, the exact semi-join, the final select) — persist
    # it so the tokenize+hash pipeline runs once, not three times
    t = keep(
        test.select(
            F.col(id_col).alias("_id_"),
            sh.alias("_shs_"),
            fp.alias("_fp_"),
        )
    )
    pairs = t.select("_id_", F.explode_outer("_shs_").alias("_sh_"))
    hits = (
        pairs.join(train_sh, "_sh_", "left_semi")
        .groupBy("_id_")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    exact = (
        t.join(train_fp, t["_fp_"] == train_fp["_fp_"], "left_semi")
        .select("_id_", F.lit(True).alias("_exact_"))
    )
    # coalesce BEFORE the ratio: a zero-hit doc's left join leaves
    # n_hit NULL, and NULL/n would poison ratio AND contaminated
    hit = F.coalesce("n_hit", F.lit(0)).cast("long")
    ratio = F.when(
        F.col("n_shingles") > 0, hit / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return (
        t.select("_id_", F.size("_shs_").cast("long").alias("n_shingles"))
        .join(hits, "_id_", "left")
        .join(exact, "_id_", "left")
        .select(
            F.col("_id_").alias(id_col),
            "n_shingles",
            hit.alias("n_hit"),
            F.round(ratio, 6).alias("overlap_ratio"),
            F.coalesce("_exact_", F.lit(False)).alias("exact_dup"),
        )
        .withColumn(
            "contaminated",
            F.col("exact_dup") | (F.col("overlap_ratio") >= threshold),
        )
    )


def canonical_per_cluster(
    docs: DataFrame,
    id_col: str,
    cluster_col: str,
    order_by: list[Column],
) -> DataFrame:
    """Keep exactly one representative row per duplicate cluster: the
    first row under ``order_by`` (callers append the id as the final
    tie-break to make selection total). Adds ``n_members`` (cluster
    size) and passes every input column through.

    The rank filter sits DIRECTLY above the row_number window so
    WindowGroupLimit prunes each map partition to its per-cluster best
    before the exchange (the topN-per-group scale shape); the cluster
    size comes from a separate map-side-combined count aggregate joined
    back on the cluster key, NOT from a count-over-partition window —
    that variant wedges a full-partition window between filter and
    rank, defeats the pruning, and shuffles every member row."""
    w = Window.partitionBy(cluster_col).orderBy(*order_by)
    counts = docs.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    top = (
        docs.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") == 1)
        .drop("_rk_")
    )
    return top.join(counts, cluster_col)


def mixture_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    weights: Mapping[str, float],
    total: int,
    *,
    salt: int = 0,
    keep_plan_cols: bool = False,
) -> DataFrame:
    """Deterministic corpus mixing: materialize a sample of ~``total``
    rows whose per-stratum counts follow ``weights`` (absolute shares
    of ``total``), apportioned by the largest-remainder method and
    capped at each stratum's available rows. Strata not in ``weights``
    get nothing; a capped stratum's shortfall is NOT redistributed
    (the realized total is the honest outcome, not silently rebalanced
    — callers that need exact totals re-run with adjusted weights).

    Row selection inside a stratum is bottom-k by the Knuth unit hash
    of ``key`` — reproducible on any engine, stable under appends.
    ``keep_plan_cols=True`` keeps the planning columns (``n_total``,
    ``target``) on every sampled row for audit summaries.

    Plan: per-stratum counts aggregate first (map-side combine); the
    apportionment windows run on that dictionary-sized frame (the
    single-partition sort is over #strata rows — constant at any data
    scale); targets broadcast-join back onto the data and a per-stratum
    rank window keeps the k smallest hashes. One data shuffle total.
    """
    targets = mixture_targets(df, stratum, weights, total)
    w_rank = Window.partitionBy(stratum).orderBy(
        knuth_unit(F.col(key), salt=salt).asc(), F.col(key).asc()
    )
    kept = (
        df.join(F.broadcast(targets), stratum)
        .withColumn("_rk_", F.row_number().over(w_rank))
        .where(F.col("_rk_") <= F.col("target"))
        .drop("_rk_")
    )
    return kept if keep_plan_cols else kept.drop("n_total", "target")


def mixture_targets(
    df: DataFrame,
    stratum: str,
    weights: Mapping[str, float],
    total: int,
) -> DataFrame:
    """The apportionment plan behind ``mixture_sample``: per weighted
    stratum, its available count and largest-remainder target (capped
    at availability). Exposed separately so audit summaries can report
    EVERY planned stratum — including target-0 strata that keep no
    rows, which an aggregate over the kept rows alone would omit.
    Dictionary-sized output; the windows run over #strata rows."""
    wlit = F.lit(None).cast("double")
    for s, wgt in sorted(weights.items()):
        wlit = F.when(F.col(stratum) == s, F.lit(float(wgt))).otherwise(wlit)

    counts = (
        df.groupBy(stratum)
        .agg(F.count(F.lit(1)).alias("_n_"))
        .withColumn("_w_", wlit)
        .where(F.col("_w_").isNotNull())
    )
    tf = F.col("_w_") * F.lit(float(total))
    base = F.floor(tf)
    frac = tf - base
    # constant-size frames: both windows run over #strata rows
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_frac = Window.orderBy(frac.desc(), F.col(stratum).asc())
    return (
        counts.withColumn("_base_", base)
        .withColumn("_pool_", F.lit(total) - F.sum("_base_").over(w_all))
        .withColumn("_frk_", F.row_number().over(w_frac))
        .withColumn(
            "target",
            F.least(
                F.col("_n_"),
                F.col("_base_")
                + (F.col("_frk_") <= F.col("_pool_")).cast("long"),
            ),
        )
        .select(stratum, F.col("_n_").alias("n_total"), "target")
    )


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Pairwise content-overlap matrix between document groups
    (sources, dumps, snapshots): for every group pair, the number of
    shared distinct word ``n``-gram shingles and the Jaccard of the
    two shingle sets — the corpus "datasheet" a pipeline consults
    before mixing sources (and the aggregate view of what
    ``contamination_check`` tests one document at a time).

    Returns (group_a, group_b, shared, n_a, n_b, jaccard) with
    group_a < group_b; pairs sharing nothing are omitted.

    Scale shape: the corpus reduces to DISTINCT (group, shingle-hash)
    rows first (one shuffle, map-side combine) — every downstream
    frame is bounded by that reduction. The pair counts come from a
    self-join co-keyed on the uniform 60-bit hash whose fan-out per
    shingle is bounded by the number of groups containing it (G² in
    the worst case, with G dictionary-sized by contract); per-group
    totals are a G-row aggregate joined back broadcast-sized.
    """
    gs = keep(
        docs.select(
            F.col(group_col).alias("_g_"),
            F.explode(shingle_hashes(F.col(text_col), n)).alias("_sh_"),
        )
        .distinct()
    )
    totals = gs.groupBy("_g_").agg(F.count(F.lit(1)).alias("_n_"))
    a = gs.select(F.col("_g_").alias("_ga_"), "_sh_")
    b = gs.select(F.col("_g_").alias("_gb_"), "_sh_")
    shared = (
        a.join(b, "_sh_")
        .where(F.col("_ga_") < F.col("_gb_"))
        .groupBy("_ga_", "_gb_")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            F.broadcast(totals.select(F.col("_g_").alias("_ga_"), F.col("_n_").alias("n_a"))),
            "_ga_",
        )
        .join(
            F.broadcast(totals.select(F.col("_g_").alias("_gb_"), F.col("_n_").alias("n_b"))),
            "_gb_",
        )
        .select(
            F.col("_ga_").alias("group_a"),
            F.col("_gb_").alias("group_b"),
            "shared",
            "n_a",
            "n_b",
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: one row
    per document id present in either snapshot, with ``status`` in
    ('added', 'removed', 'changed', 'unchanged') — membership by id,
    change detection by ``norm_fingerprint`` (the identity
    ``contamination_check``'s exact path shares; single-space runs,
    leading/trailing space and case differences count as unchanged —
    NOT the broader whitespace-regex collapse ``dedup.exact_dedup``
    uses).
    Snapshot ids must be unique per side (they are the snapshot key);
    duplicate ids fan out through the join.

    The audit every incremental pipeline runs between crawls: what
    entered, what left, what silently changed — and the row spine for
    incremental processing (feed status='added'/'changed' ids to
    ``dedup.minhash_probe`` instead of re-running the full corpus).

    Scale shape: each side reduces to (id, fingerprint) before ONE
    co-keyed full-outer join on the id — no text leaves the scan
    stage, nothing is broadcast, nothing is collected.
    """
    fp = norm_fingerprint(F.col(text_col))
    of = old.select(F.col(id_col).alias("_id_"), fp.alias("_ofp_"))
    nf = new.select(F.col(id_col).alias("_id_"), fp.alias("_nfp_"))
    return of.join(nf, "_id_", "full").select(
        F.col("_id_").alias(id_col),
        F.when(F.col("_ofp_").isNull(), F.lit("added"))
        .when(F.col("_nfp_").isNull(), F.lit("removed"))
        .when(F.col("_ofp_") != F.col("_nfp_"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
