"""Data-selection operators: n-gram LM quality scoring and
DSIR-style importance weighting.

LLM-pipeline extensions (no analog in the reference engine — its
quality surface is rule-based, SURVEY §2.8): the two standard
model-free ways a pretraining pipeline ranks raw documents before
mixing:

- ``bigram_lm_scores``: CCNet-style quality scoring — train an
  add-k-smoothed bigram language model on a held-in corpus, score
  every candidate document by its average negative log-likelihood
  (low = fluent/in-domain, high = noise). The distributed twin of
  scoring with a KenLM model, expressed entirely as counts + joins.
- ``dsir_scores``: hashed-feature importance weights (after DSIR,
  Xie et al. 2023): bucket every token into ``n_buckets`` hashed
  features, estimate smoothed bucket distributions on a small target
  corpus and on the raw corpus, and score each raw document by its
  mean log-likelihood ratio — documents distributionally closest to
  the target rank highest; selection is a deterministic top-k.

Determinism at scale (both operators feed the DuckDB oracle gate):
every per-token log term is quantized to integer MICRO-NATS
(``floor(x * 1e6)`` as BIGINT) before any aggregation, so document
scores are integer sums — invariant to Spark's partial-aggregation
order — and only the final per-document average returns to double.
(A raw ``sum(double)`` of log terms can round differently run-to-run;
same failure mode as the round-2 q57 money sums, same fix.)

Scale notes (100 TB shapes):
- Count frames reduce BEFORE every join: the bigram/unigram/bucket
  tables are (hash, count) aggregates of the train side, joined back
  co-keyed on uniform 60-bit md5-slice hashes — the train corpus is
  never broadcast and never re-scanned per probe.
- Corpus-wide scalars (vocab size, token totals) are 1-row frames
  cross-joined in-plan — no driver round-trip, no collect.
- The DSIR bucket table is ``n_buckets`` rows regardless of corpus
  size (that is the point of hashed features) — Spark's planner may
  broadcast it, which is exactly right.
- Selection is ``orderBy().limit()`` — TakeOrderedAndProject, a
  distributed per-partition top-n, never a single-partition global
  sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.functions.textstats import norm_tokens as _tokens
from demy_spark.operators.dedup import _md5_long
from demy_spark.session import keep

__all__ = [
    "bigram_lm_scores",
    "dsir_scores",
    "distinctive_terms",
    "tfidf_top_terms",
    "token_budget_select",
]

_MICRO = 1_000_000


def _micro_nats(x) -> F.Column:
    return F.floor(x * F.lit(float(_MICRO))).cast("long")


def bigram_lm_scores(
    train: DataFrame,
    score: DataFrame,
    id_col: str,
    text_col: str,
    *,
    add_k: float = 0.5,
) -> DataFrame:
    """Average negative log-likelihood of each ``score`` document
    under an add-k bigram LM fit on ``train``.

    ``P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k * (V + 1))`` with ``V``
    the train vocabulary size (the +1 reserves smoothed mass for
    unseen words — any token absent from train contributes its
    ``c = 0`` smoothed term rather than exploding). Documents with
    fewer than 2 tokens are dropped (they have no bigram transitions).

    Output: ``id_col``, ``n_bigrams``, ``nll_micro`` (integer
    micro-nat total — the deterministic aggregate), ``avg_nll``
    (double, micro-nat total / n / 1e6).
    """
    tr_toks = train.select(F.explode(_tokens(text_col)).alias("_w_"))
    # unigram counts keyed by the same 60-bit hash the bigram join
    # uses: a narrow fixed-width shuffle key (and the oracle joins on
    # the identical md5 slice, so even hash collisions agree)
    uni = (
        tr_toks.groupBy("_w_")
        .agg(F.count(F.lit(1)).alias("_c1_"))
        .select(_md5_long(F.col("_w_"), 1).alias("_hw_"), "_c1_")
    )
    vocab_n = uni.agg(F.count(F.lit(1)).alias("_v_"))

    def bigram_rows(df: DataFrame, with_id: bool) -> DataFrame:
        # adjacent (w1, w2) pairs, in token order; NULL (-> explode
        # drops the row) when the document has no transition
        pairs = F.expr(
            "CASE WHEN size(_tk_) >= 2 THEN "
            "zip_with(slice(_tk_, 1, size(_tk_) - 1), "
            "slice(_tk_, 2, size(_tk_) - 1), (a, b) -> struct(a, b)) END"
        )
        base = df.select(
            *([F.col(id_col).alias("_id_")] if with_id else []),
            _tokens(text_col).alias("_tk_"),
        ).select(
            *(["_id_"] if with_id else []),
            F.explode(pairs).alias("_bg_"),
        )
        return base.select(
            *(["_id_"] if with_id else []),
            F.col("_bg_.a").alias("_w1_"),
            F.col("_bg_.b").alias("_w2_"),
        )

    bi = (
        bigram_rows(train, with_id=False)
        .groupBy("_w1_", "_w2_")
        .agg(F.count(F.lit(1)).alias("_c2_"))
        # co-keyed join key: one uniform 60-bit hash instead of a
        # two-string shuffle key
        .select(
            _md5_long(F.concat_ws(" ", "_w1_", "_w2_"), 1).alias("_h2_"), "_c2_"
        )
    )
    probe = bigram_rows(score, with_id=True).select(
        "_id_",
        _md5_long(F.concat_ws(" ", "_w1_", "_w2_"), 1).alias("_h2_"),
        _md5_long(F.col("_w1_"), 1).alias("_hw_"),
    )
    k = F.lit(float(add_k))
    scored = (
        probe.join(bi, "_h2_", "left")
        .join(uni, "_hw_", "left")
        .crossJoin(vocab_n)
        .select(
            "_id_",
            _micro_nats(
                -F.log(
                    (F.coalesce(F.col("_c2_"), F.lit(0)) + k)
                    / (
                        F.coalesce(F.col("_c1_"), F.lit(0))
                        + k * (F.col("_v_") + F.lit(1))
                    )
                )
            ).alias("_nll_"),
        )
    )
    return (
        scored.groupBy("_id_")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_nll_").alias("nll_micro"),
        )
        .select(
            F.col("_id_").alias(id_col),
            "n_bigrams",
            "nll_micro",
            (
                F.col("nll_micro")
                / F.col("n_bigrams")
                / F.lit(float(_MICRO))
            ).alias("avg_nll"),
        )
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 1024,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document importance score: mean log-likelihood ratio of the
    document's hashed token buckets under the target vs raw bucket
    distributions (both add-k smoothed over ``n_buckets``).

    ``llr(b) = ln(((ct(b)+k)/(Nt+k*B)) / ((cr(b)+k)/(Nr+k*B)))``,
    quantized to integer micro-nats per token. Empty documents are
    dropped. Output: ``id_col``, ``n_tokens``, ``llr_micro`` (integer
    total), ``avg_llr`` (double) — select the training subset with
    ``scored.orderBy(F.desc("avg_llr"), id_col).limit(n)``.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def buckets(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col).alias("_id_")] if with_id else []
        return df.select(
            *cols,
            F.explode(_tokens(text_col)).alias("_w_"),
        ).select(
            *(["_id_"] if with_id else []),
            F.pmod(_md5_long(F.col("_w_"), 1), F.lit(n_buckets)).alias("_b_"),
        )

    k = F.lit(float(add_k))
    b_lit = F.lit(float(n_buckets))
    ct = buckets(target, with_id=False).groupBy("_b_").agg(
        F.count(F.lit(1)).alias("_ct_")
    )
    # ONE tokenize+hash pass over the raw corpus feeds both the cr
    # counts and the per-doc probe below (persisted: two DAG branches
    # — without it the dominant corpus scan runs twice per action)
    raw_keyed = keep(buckets(raw, with_id=True))
    cr = raw_keyed.groupBy("_b_").agg(F.count(F.lit(1)).alias("_cr_"))
    nt = ct.agg(F.sum("_ct_").alias("_nt_"))
    nr = cr.agg(F.sum("_cr_").alias("_nr_"))
    # n_buckets-row frame of integer micro-nat log ratios: constant
    # size at any corpus scale, so the probe join broadcasts
    llr = (
        ct.join(cr, "_b_", "full")
        .crossJoin(nt)
        .crossJoin(nr)
        .select(
            "_b_",
            _micro_nats(
                F.log(
                    (F.coalesce(F.col("_ct_"), F.lit(0)) + k)
                    / (F.col("_nt_") + k * b_lit)
                )
                - F.log(
                    (F.coalesce(F.col("_cr_"), F.lit(0)) + k)
                    / (F.col("_nr_") + k * b_lit)
                )
            ).alias("_llr_"),
        )
    )
    return (
        raw_keyed
        .join(F.broadcast(llr), "_b_", "left")
        .groupBy("_id_")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_llr_").alias("llr_micro"),
        )
        .select(
            F.col("_id_").alias(id_col),
            "n_tokens",
            "llr_micro",
            (
                F.col("llr_micro") / F.col("n_tokens") / F.lit(float(_MICRO))
            ).alias("avg_llr"),
        )
    )


def distinctive_terms(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    *,
    k: int = 10,
    alpha: float = 0.01,
) -> DataFrame:
    """Top-``k`` most distinctive terms per document group (source,
    domain, dump) by log-odds ratio with the informed Dirichlet prior
    (Monroe et al., "Fightin' Words"): for word w in group g vs the
    rest of the corpus,

      d = ln((c_gw + a*c_w) / (n_g + a*N - c_gw - a*c_w))
        - ln((c_rw + a*c_w) / (N - n_g + a*N - c_rw - a*c_w))
      z = d / sqrt(1/(c_gw + a*c_w) + 1/(c_rw + a*c_w))

    with c_rw the rest-of-corpus count. The standard corpus-datasheet
    view ("what words make this source different"), robust to rare
    words where plain TF-IDF explodes.

    Ranking rides on the MICRO-NAT INTEGER ``z_micro`` =
    floor(z * 1e6) (ties to the lexicographically first word): the
    SKILL.md quantize-before-compare rule — a per-group rank boundary
    must not ride on a 1-ulp libm ln/sqrt difference.

    Output: (``group_col``, word, n_word — the in-group count,
    z_micro). Scale shape: everything reduces to (group, word) counts
    first (one shuffle, map-side combine); corpus word totals join
    back co-keyed on the word; group totals and the corpus scalar
    broadcast; top-k per group is a WindowGroupLimit-prunable rank
    window on the counts frame, which is corpus-REDUCED (bounded by
    groups x vocabulary), never the raw token stream.
    """
    toks = docs.select(
        F.col(group_col).alias("_g_"),
        F.explode(_tokens(text_col)).alias("_w_"),
    )
    cgw = toks.groupBy("_g_", "_w_").agg(F.count(F.lit(1)).alias("_cgw_"))
    cw = cgw.groupBy("_w_").agg(F.sum("_cgw_").alias("_cw_"))
    ng = cgw.groupBy("_g_").agg(F.sum("_cgw_").alias("_ng_"))
    n_tot = ng.agg(F.sum("_ng_").alias("_n_"))
    a = F.lit(float(alpha))
    joined = (
        cgw.join(cw, "_w_")
        .join(F.broadcast(ng), "_g_")
        .crossJoin(F.broadcast(n_tot))
    )
    crw = F.col("_cw_") - F.col("_cgw_")
    d = F.log(
        (F.col("_cgw_") + a * F.col("_cw_"))
        / (
            F.col("_ng_")
            + a * F.col("_n_")
            - F.col("_cgw_")
            - a * F.col("_cw_")
        )
    ) - F.log(
        (crw + a * F.col("_cw_"))
        / (
            F.col("_n_")
            - F.col("_ng_")
            + a * F.col("_n_")
            - crw
            - a * F.col("_cw_")
        )
    )
    var = 1.0 / (F.col("_cgw_") + a * F.col("_cw_")) + 1.0 / (
        crw + a * F.col("_cw_")
    )
    scored = joined.select(
        "_g_",
        "_w_",
        "_cgw_",
        _micro_nats(d / F.sqrt(var)).alias("z_micro"),
    )
    w = Window.partitionBy("_g_").orderBy(
        F.col("z_micro").desc(), F.col("_w_").asc()
    )
    return (
        scored.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") <= k)
        .select(
            F.col("_g_").alias(group_col),
            F.col("_w_").alias("word"),
            F.col("_cgw_").alias("n_word"),
            "z_micro",
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` keywords per DOCUMENT by TF-IDF — the per-document
    twin of ``distinctive_terms``' per-group view (keyword extraction
    for dataset datasheets, retrieval indexing, topic labeling).

    Smoothed idf = ln((N + 1) / (df + 1)) + 1 (sklearn's convention —
    never negative, never div-by-zero); score = tf * idf. Ranking
    rides on the MICRO-INTEGER ``score_micro`` = tf *
    floor(idf * 1e6) — tf is an exact integer, so quantizing idf once
    per term keeps the whole rank integer (the SKILL.md
    quantize-before-compare rule; the multiply stays well under a
    long). Ties break to the lexicographically first term.

    Output: (``id_col``, term, tf, score_micro). Scale shape: the
    corpus reduces to (doc, term, tf) counts in one shuffle with
    map-side combine; document frequencies are a second reduction of
    THAT frame (never the raw token stream) joined back co-keyed on
    the term; the corpus doc count is a 1-row frame cross-joined
    in-plan; top-k per doc is a WindowGroupLimit-prunable rank
    window."""
    tf = (
        docs.select(F.col(id_col).alias("_id_"), F.explode(_tokens(text_col)).alias("_w_"))
        .groupBy("_id_", "_w_")
        .agg(F.count(F.lit(1)).alias("_tf_"))
    )
    df_t = tf.groupBy("_w_").agg(F.count(F.lit(1)).alias("_df_"))
    n_docs = docs.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("_n_")
    )
    idf_micro = F.floor(
        (F.log((F.col("_n_") + 1.0) / (F.col("_df_") + 1.0)) + 1.0)
        * F.lit(float(_MICRO))
    ).cast("long")
    scored = (
        tf.join(df_t, "_w_")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id_",
            "_w_",
            "_tf_",
            (F.col("_tf_") * idf_micro).alias("score_micro"),
        )
    )
    w = Window.partitionBy("_id_").orderBy(
        F.col("score_micro").desc(), F.col("_w_").asc()
    )
    return (
        scored.withColumn("_rk_", F.row_number().over(w))
        .where(F.col("_rk_") <= k)
        .select(
            F.col("_id_").alias(id_col),
            F.col("_w_").alias("term"),
            F.col("_tf_").alias("tf"),
            "score_micro",
        )
    )


def token_budget_select(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    budget: int,
    *,
    by: list[str] | None = None,
    id_col: str | None = None,
    strategy: str = "window",
) -> DataFrame:
    """Greedy token-budget selection — the curation step that turns
    "we can afford B training tokens per source" into a document set:
    within each ``by`` group, take documents best-score-first until
    the running token total exceeds ``budget`` (a kept document's
    cumulative count must fit entirely — no partial documents).

    Deterministic: ties on ``score_col`` break by ``id_col``
    (ascending), so the kept set is a pure function of the inputs —
    use an INTEGER score (micro-units, the oracle contract) when the
    selection must replay across engines.

    Returns ``df`` plus ``tokens_cum`` (running total in selection
    order) and ``keep``. Two strategies, identical keep-sets AND
    identical ``tokens_cum`` (a test pins the equality on a
    90%-hot-group frame):

    - ``"window"`` (default): one hash shuffle on the group keys +
      an in-partition running-sum window. Right when every group's
      rows fit one reducer — per-SOURCE groups in practice.
    - ``"histogram"``: the analytic cut for HOT groups. Reduce to a
      (group, score) histogram (rows = groups x distinct scores —
      corpus-REDUCED for integer micro-unit scores), take the
      EXCLUSIVE per-group running bucket total over score-desc on
      that reduced frame, join it back co-keyed on (group, score),
      and finish with an intra-bucket running sum partitioned by
      (group, score) ordered by ``id_col``. The hot group's rows
      spread across its score buckets instead of serializing on one
      reducer, and the boundary bucket stays exact because the
      intra-bucket window adds per-document tokens on top of the
      exclusive bucket prefix. Requires ``id_col``.

    ``by=None`` (global selection) must use ``"histogram"`` — a
    global window is ONE reducer scanning the whole corpus, exactly
    the trap the histogram path exists for; ``"window"`` raises
    loudly rather than silently degrading (VERDICT r7)."""
    if strategy not in ("window", "histogram"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "window":
        if not by:
            raise ValueError(
                "token_budget_select(by=None) would run the whole frame "
                "through ONE global-window reducer; pass "
                'strategy="histogram" (the distributed analytic cut) '
                "or group keys"
            )
        order = [F.col(score_col).desc()]
        if id_col:
            order.append(F.col(id_col).asc())
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = F.sum(F.col(tokens_col)).over(w)
        return df.withColumn("tokens_cum", cum).withColumn(
            "keep", F.col("tokens_cum") <= budget
        )
    if not id_col:
        raise ValueError('strategy="histogram" needs id_col for intra-bucket order')
    keys = list(by or [])
    hist = df.groupBy(*keys, score_col).agg(
        F.sum(F.col(tokens_col)).alias("_bucket_tok_")
    )
    wb = (
        Window.partitionBy(*keys)
        .orderBy(F.col(score_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.select(
        *keys,
        score_col,
        F.coalesce(F.sum("_bucket_tok_").over(wb), F.lit(0)).alias("_cum_before_"),
    )
    wi = (
        Window.partitionBy(*keys, score_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the join back MUST be null-safe: a name-based equi-join never
    # matches a NULL score or NULL group key, silently DROPPING those
    # rows while the window path keeps them (they sort last under
    # desc ordering) — r8 review. eqNullSafe keys keep the join
    # co-keyed (EqualNullSafe is a supported equi-join predicate).
    hj = hist.select(
        *[F.col(k).alias(f"_h{i}_") for i, k in enumerate(keys)],
        F.col(score_col).alias("_hs_"),
        "_cum_before_",
    )
    cond = F.col(score_col).eqNullSafe(F.col("_hs_"))
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"_h{i}_"))
    return (
        df.join(hj, cond)
        .withColumn(
            "tokens_cum",
            F.col("_cum_before_") + F.sum(F.col(tokens_col)).over(wi),
        )
        .withColumn("keep", F.col("tokens_cum") <= budget)
        .select(*df.columns, "tokens_cum", "keep")
    )
