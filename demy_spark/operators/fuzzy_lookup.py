"""Fuzzy text lookup join — the engine's flagship operator.

Re-expresses the reference's Lucene-backed ``luceneLookup``
(mllib/src/main/scala/index/implicits.scala:15-392,
index/IndexStrategy.scala:69-126, index/NgramStrategy.scala:113-290,
index/AcronymFilter.scala:23-60) as a pure DataFrame plan that Catalyst
can see end-to-end:

    tokenize both sides
      → inverted-index postings (token → doc, tf) + per-doc stats
      → candidate generation by token equi-join
        (exact, plus symmetric-delete blocking for Levenshtein matches)
      → per-(query, doc) BM25-style score with exact/acronym boosts
      → popularity multiplier → top-k per query via rank window
      → left join back (unmatched queries keep null payload)

The score is OUR OWN documented function (Lucene's BM25 internals are
not reproducible bit-for-bit); parity with the reference is on *ranking
behavior* — its golden tests (top-1 identity) pass, see
tests/test_fuzzy_lookup.py.

Score, per candidate (query q, right row d):

    score(q, d) = pop(d) · Σ_{t ∈ tokens(q)} w_t · boost_t · idf(m_t) · tfn(m_t, d)

    m_t      = index token matched by query token t (itself for exact;
               closest vocab token within max_lev_distance edits for
               fuzzy; per token the best-scoring match is kept)
    boost_t  = 4.0 exact | 15.0 doubled-acronym exact (fuzzy mode)
               | (1 - lev(t, m_t)/len(t)) fuzzy
    idf(m)   = ln(1 + (N - df(m) + 0.5)/(df(m) + 0.5))          [BM25]
    tfn(m,d) = tf·(k1+1)/(tf + k1·(1 - b + b·dl(d)/avgdl)), k1=1.2 b=0.75
    w_t      = optional per-term weight (reference termWeights)
    pop(d)   = optional popularity multiplier (reference _pop_ boost)

Scale notes (100 TB design):
- The index build (postings + stats) is one shuffle on token and is
  materializable/reusable via ``FuzzyIndex`` (the reference's
  reuseExistingIndex semantics).
- Candidate generation is an equi-join on token — never a cross join.
  Ubiquitous tokens explode candidates: ``max_df`` prunes them from
  candidate generation BY DEFAULT (relative cap 0.5·N with a 256-doc
  floor — see MAX_DF/MAX_DF_FLOOR; they carry ~zero idf anyway), the
  pruned posting count is reported via ``df.observe`` observable
  metrics, and AQE skew-join splitting covers the rest.
- Fuzzy matching uses SymSpell-style deletion neighborhoods: distinct
  query vocab and index vocab each expand to ≤ 1+n+n² delete-variants
  and equi-join on the variant — no vocab × vocab cross product; true
  Levenshtein runs only on blocked pairs.
- Everything is a DataFrame op: Catalyst prunes columns into the
  parquet scans and AQE picks broadcast sides at runtime (a
  dictionary-sized right table broadcasts automatically).
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.session import keep

K1 = 1.2
B = 0.75
EXACT_BOOST = 4.0
ACRONYM_BOOST = 15.0

QID = "_qid_"
RID = "_rid_"

# Relative document-frequency cap applied BY DEFAULT to candidate
# generation: tokens present in more than MAX_DF fraction of the index
# docs are pruned (they carry ~zero idf but dominate the candidate
# join's fan-out — a ubiquitous token on a skewed corpus is the one
# remaining way this operator can explode at scale; cost-control parity
# with the reference's greedy expansion, index/NgramStrategy.scala:113-195).
MAX_DF = 0.5
# Absolute floor on the cap: an index with fewer docs than this never
# prunes (df <= MAX_DF_FLOOR is always kept). A token with 256 postings
# cannot explode anything, and dictionary-sized indexes keep exact
# whole-corpus scoring semantics.
MAX_DF_FLOOR = 256

# unique-per-call names for the CollectMetrics (df.observe) node
_OBS_IDS = itertools.count()


def _max_df_keep(max_df: int | float | None) -> Column | None:
    """Candidate-keep predicate over ``_df_``/``_ndocs_``, or None.

    float in (0, 1]: relative cap ``df <= max(MAX_DF_FLOOR,
    ceil(max_df * ndocs))``. int: absolute cap. None: no pruning.
    """
    if max_df is None:
        return None
    if isinstance(max_df, bool):
        raise TypeError("max_df must be int, float or None")
    if isinstance(max_df, float):
        if not 0.0 < max_df <= 1.0:
            raise ValueError(f"relative max_df must be in (0, 1], got {max_df}")
        cap = F.greatest(
            F.lit(float(MAX_DF_FLOOR)),
            F.ceil(F.lit(max_df) * F.col("_ndocs_")).cast("double"),
        )
        return F.col("_df_") <= cap
    return F.col("_df_") <= F.lit(int(max_df))


def _tokenize(col: Column, pattern: str) -> Column:
    return F.array_remove(F.split(col, pattern), "")


def _double_acronyms(tokens: Column) -> Column:
    return F.transform(
        tokens,
        lambda x: F.when(x.rlike("^[A-Z]{2}$"), F.concat(x, x)).otherwise(x),
    )


def _del1(tok: Column, i: Column, n: Column) -> Column:
    """``tok`` (length ``n``) with the char at 0-based index ``i`` removed."""
    return F.concat(tok.substr(F.lit(1), i), tok.substr(i + 2, n))


def _delete_variants(tok: Column, max_deletes: int) -> Column:
    """SymSpell blocking keys: all strings reachable from ``tok`` with
    ≤ ``max_deletes`` character deletions (distinct, includes ``tok``)."""
    n = F.length(tok)
    empty = F.array().cast("array<string>")
    out = F.array(tok)
    d1 = F.transform(F.sequence(F.lit(0), n - 1), lambda i: _del1(tok, i, n))
    out = F.concat(out, F.when(n >= 1, d1).otherwise(empty))
    if max_deletes >= 2:
        d2 = F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.transform(
                    F.sequence(F.lit(0), n - 2),
                    lambda j: _del1(_del1(tok, i, n), j, n - 1),
                ),
            )
        )
        out = F.concat(out, F.when(n >= 2, d2).otherwise(empty))
    return F.array_distinct(out)


class FuzzyIndex:
    """Inverted index over the right side of a fuzzy join.

    Parity: the reference's Lucene index build
    (index/implicits.scala:125-183, SparkLuceneWriter.scala:16-54). The
    index is three base DataFrames — postings (token→doc,tf), doc
    stats, token dfs — persistable to parquet and reusable across
    lookups, plus two DENORMALIZED probe frames derived from them:

    - ``scored_postings``: postings ⋈ token dfs ⋈ doc stats ⋈ corpus
      scalars — every input of the BM25-style score on one row, so a
      probe is a single equi-join instead of a 4-frame join chain
      (locally that is 3 fewer broadcast-exchange jobs per lookup; on
      a cluster it is the standard search-engine denormalization that
      keeps the hot path to one shuffle).
    - ``vocab``: token dfs + corpus scalars, for the symmetric-delete
      fuzzy candidate generator.

    A built index persists its row-id-stamped ``right`` at
    construction (lazily; the first action fills it); its owner:
    ``session.owned``.
    """

    def __init__(
        self,
        right: DataFrame,
        text_col: str,
        *,
        token_pattern: str = r"[^\p{L}0-9]+",
        case_insensitive: bool = True,
        boost_acronyms: bool = False,
    ):
        # persisted so the row ids are stamped ONCE: right, postings
        # and doc stats are separate evaluations of this frame, and
        # when ``right`` is a shuffle output each evaluation can order
        # its rows differently (and AQE can coalesce its partitions
        # differently per plan), so an unpersisted stamp hands the
        # same row different ids in different frames (and in save()'s
        # four writes)
        self.right = keep(right.withColumn(RID, F.monotonically_increasing_id()))
        toks = _tokenize(F.col(text_col), token_pattern)
        if boost_acronyms:
            toks = _double_acronyms(toks)
        if case_insensitive:
            toks = F.transform(toks, F.lower)
        tokenized = self.right.select(RID, F.explode(toks).alias("_tok_"))
        self.postings = tokenized.groupBy("_tok_", RID).agg(F.count("*").alias("_tf_"))
        self.doc_stats = tokenized.groupBy(RID).agg(F.count("*").alias("_dl_"))
        self.token_stats = self.postings.groupBy("_tok_").agg(
            F.countDistinct(RID).alias("_df_")
        )
        self._denormalize()

    def _denormalize(self) -> None:
        """Derive the probe frames. Corpus scalars ride along as a
        broadcast 1-row frame — no blocking driver job, the index
        stays fully lazy."""
        stats = F.broadcast(
            self.doc_stats.agg(
                F.count("*").cast("double").alias("_ndocs_"),
                F.coalesce(F.avg("_dl_"), F.lit(1.0)).alias("_avgdl_"),
            )
        )
        self.vocab = self.token_stats.crossJoin(stats)
        self.scored_postings = self.postings.join(self.vocab, "_tok_").join(
            self.doc_stats, RID
        )

    def persist(self) -> "FuzzyIndex":
        for df in (self.right, self.scored_postings, self.vocab):
            keep(df)
        return self

    def save(self, path: str) -> None:
        self.right.write.mode("overwrite").parquet(f"{path}/right")
        self.postings.write.mode("overwrite").parquet(f"{path}/postings")
        self.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
        self.token_stats.write.mode("overwrite").parquet(f"{path}/token_stats")

    @classmethod
    def load(cls, spark, path: str) -> "FuzzyIndex":
        obj = cls.__new__(cls)
        obj.right = spark.read.parquet(f"{path}/right")
        obj.postings = spark.read.parquet(f"{path}/postings")
        obj.doc_stats = spark.read.parquet(f"{path}/doc_stats")
        obj.token_stats = spark.read.parquet(f"{path}/token_stats")
        obj._denormalize()
        return obj


def fuzzy_lookup(
    left: DataFrame,
    right: DataFrame,
    query_col: str,
    text_col: str | None = None,
    *,
    max_lev_distance: int = 2,
    min_score: float = 0.0,
    boost_acronyms: bool = False,
    popularity_col: str | None = None,
    term_weights_col: str | None = None,
    stop_words: Sequence[str] = (),
    case_insensitive: bool = True,
    token_pattern: str = r"[^\p{L}0-9]+",
    strategy: str = "standard",
    n_ngrams: int = 3,
    top_k: int = 1,
    max_df: int | float | None = MAX_DF,
    tie_break_cols: Sequence[str] = (),
    filter_cols: Sequence[tuple[str, str]] = (),
    index: FuzzyIndex | None = None,
) -> DataFrame:
    """Best fuzzy text match from ``right`` for each row of ``left``.

    Returns ``left.* ++ right.* ++ (_score_ float, _tags_ array<string>,
    _startIndex_ int, _endIndex_ int)`` — schema parity with
    index/implicits.scala:259-285. Unmatched left rows keep nulls.

    strategy="standard": the whole query is one bag of terms
    (StandardStrategy). strategy="ngram": sliding windows of
    ``n_ngrams`` query tokens score independently and the best
    (window, doc) pair wins (NgramStrategy); ``_startIndex_/_endIndex_``
    are the winning window's token bounds and ``_tags_`` its tokens.
    strategy="predict": only the ``n_ngrams``-token window centered on
    the term-weight peak scores (PredictStrategy, argmax-peak
    simplification; pair with ``term_weights_col``).

    Pass a prebuilt ``index`` to reuse a materialized FuzzyIndex
    (reference reuseExistingIndex=true); ``text_col`` may then be
    omitted — the right side's tokenization is baked into the index's
    postings and is never recomputed here. Without an ``index``,
    ``text_col`` is required.

    ``max_df`` caps candidate generation per token (default: relative
    ``MAX_DF`` = 0.5 of index docs, floored at ``MAX_DF_FLOOR`` = 256
    docs so small dictionary indexes never prune). Pass an int for an
    absolute document-frequency cap or None to disable. Each run emits
    ``postings_pruned_by_max_df`` / ``postings_kept`` observable
    metrics (visible via QueryExecutionListener or
    ``df.observe``-aware harnesses).

    ``tie_break_cols``: right-table columns that order equal-score
    candidates (ascending) before the internal row id. Score ties are
    otherwise broken by ingestion order (the reference keeps whichever
    index partition answered first, index/implicits.scala:347-358);
    naming a unique right-side key makes the result fully deterministic
    and therefore oracle-comparable.

    ``filter_cols``: per-left-row typed point filters, reference
    semantics index/IndexStrategy.scala:96-107 (filter fields AND exact
    constraints into the Lucene query) with writer typed-field parity
    SparkLuceneWriterInfo.scala:20-42. Each ``(left_col, right_col)``
    pair requires candidates to satisfy ``left[left_col] ==
    right[right_col]``; a NULL left value means "no constraint for this
    row" (``filter.isNullAt(i)`` in the reference), while a NULL right
    value never matches (an unindexed Lucene field never satisfies an
    exact query). The predicate is ANDed into the candidate-generation
    joins themselves, so a selective filter shrinks the candidate
    fan-out BEFORE the scoring shuffle — the Spark analog of Lucene
    evaluating the point query inside index traversal.
    """
    if index is None:
        if text_col is None:
            raise ValueError("text_col is required when no index= is passed")
        # self-built index frames are each consumed 2-4× inside this
        # plan (scalar stats job, exact + fuzzy candidate joins, doc
        # stats join) — persist so the right side tokenizes once
        index = FuzzyIndex(
            right,
            text_col,
            token_pattern=token_pattern,
            case_insensitive=case_insensitive,
            boost_acronyms=boost_acronyms,
        ).persist()

    left_id = left.withColumn(QID, F.monotonically_increasing_id())

    # --- query side: one row per (query, token position) --------------
    raw_toks = _tokenize(F.col(query_col), token_pattern)
    if boost_acronyms:
        raw_toks = _double_acronyms(raw_toks)
    sel = [F.col(QID), F.posexplode(raw_toks).alias("_pos_", "_rawtok_")]
    fv_names = [f"_fv{i}_" for i in range(len(filter_cols))]
    sel += [F.col(l).alias(a) for (l, _), a in zip(filter_cols, fv_names)]
    if term_weights_col:
        sel.insert(1, F.col(term_weights_col).alias("_weights_"))
    qtoks = left_id.select(*sel)
    qtoks = qtoks.withColumn(
        "_qtok_", F.lower("_rawtok_") if case_insensitive else F.col("_rawtok_")
    )
    if stop_words:
        sw = [w.lower() if case_insensitive else w for w in stop_words]
        qtoks = qtoks.where(~F.col("_qtok_").isin(sw))
    if term_weights_col:
        qtoks = qtoks.withColumn(
            "_w_",
            F.coalesce(F.try_element_at("_weights_", F.col("_pos_") + 1), F.lit(1.0)),
        ).drop("_weights_")
    else:
        qtoks = qtoks.withColumn("_w_", F.lit(1.0))
    # doubled acronym = 4 chars, first half == second half, all upper
    qtoks = qtoks.withColumn(
        "_is_acro_",
        F.lit(boost_acronyms) & F.col("_rawtok_").rlike(r"^([A-Z]{2})\1$"),
    ).drop("_rawtok_")
    # NOT materialized, deliberately (r14): qtoks feeds 3-4 consumers
    # (exact join, fuzzy q-vocab + candidate join, token-array
    # reassembly) and a shared materialization looks attractive — but
    # a same-session 3-arm A/B (scripts/probe_ckpt_ab_r14.py as of
    # commit 49a9b30, over
    # q24_fuzzy_lookup and bench_fuzzy_probe_10x) measured BOTH forms
    # losing to rescans at sf0.1 (q24: ckpt 4.20 / persist 3.44-ish
    # vs rescan 3.80; probe_10x: 3.98 / 3.87 vs 3.47 — persist's one
    # win inverts on the 10x load, i.e. inside noise): the probe-side
    # regex tokenize is cheap per row, unlike the md5-shingle and
    # positional-postings pipelines where the same idiom wins
    # (dedup._minhash_bands, retrieval.phrase_search). Re-evaluations
    # of the monotonically_increasing_id probe ids stay consistent
    # because every consumer derives from the same scan partitioning
    # (the pre-existing contract of this function).

    # denormalized probe frames: every score input on one posting row
    # (see FuzzyIndex._denormalize) — the hot path is ONE equi-join
    sp = index.scored_postings
    vocab = index.vocab
    keep = _max_df_keep(max_df)
    if keep is not None:
        # CollectMetrics sits above the unpruned postings, so every run
        # reports how many candidate postings the df cap removed
        # (accumulator parity: Word2VecApplier.scala:76-79 counts its
        # dropped words the same way). Filters are not pushed through
        # an observe node, so the metric sees all rows.
        sp = sp.observe(
            f"fuzzy_lookup_{next(_OBS_IDS)}",
            F.sum(F.when(~keep, 1).otherwise(0)).alias("postings_pruned_by_max_df"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("postings_kept"),
        ).where(keep)
        vocab = vocab.where(keep)

    rfv_names = [f"_rfv{i}_" for i in range(len(filter_cols))]
    if filter_cols:
        # typed-field "indexing": denormalize the right filter columns
        # onto the probe postings (doc-grain join the reference does at
        # Lucene index-build time, SparkLuceneWriterInfo.scala:20-42)
        rvals = index.right.select(
            RID, *[F.col(r).alias(a) for (_, r), a in zip(filter_cols, rfv_names)]
        )
        sp = sp.join(rvals, RID)

    def _filter_pred(qside: DataFrame, rside: DataFrame) -> Column:
        """AND of the per-row point constraints; null left value = no
        constraint (filter.isNullAt), null right value never matches."""
        pred = F.lit(True)
        for fv, rfv in zip(fv_names, rfv_names):
            pred = pred & (qside[fv].isNull() | (qside[fv] == rside[rfv]))
        return pred

    idf = F.log(
        1.0 + (F.col("_ndocs_") - F.col("_df_") + 0.5) / (F.col("_df_") + 0.5)
    )
    tfn = (F.col("_tf_") * (K1 + 1)) / (
        F.col("_tf_") + K1 * (1 - B + B * F.col("_dl_") / F.col("_avgdl_"))
    )

    # --- candidates: exact token equi-join ----------------------------
    exact_boost = F.when(
        F.col("_is_acro_") & F.lit(max_lev_distance > 0), ACRONYM_BOOST
    ).otherwise(EXACT_BOOST)
    exact = qtoks.join(
        sp, (qtoks["_qtok_"] == sp["_tok_"]) & _filter_pred(qtoks, sp)
    ).select(
        QID,
        "_pos_",
        RID,
        (F.col("_w_") * exact_boost * idf * tfn).alias("_c_"),
    )
    candidates = exact

    # --- candidates: fuzzy via symmetric-delete blocking ---------------
    if max_lev_distance > 0:
        d = max_lev_distance
        q_vocab = qtoks.select("_qtok_").distinct().where(F.length("_qtok_") > 2)
        q_vars = q_vocab.select(
            "_qtok_", F.explode(_delete_variants(F.col("_qtok_"), d)).alias("_var_")
        )
        r_vars = vocab.select(
            "_tok_", F.explode(_delete_variants(F.col("_tok_"), d)).alias("_var_")
        )
        pairs = (
            q_vars.join(r_vars, "_var_")
            .where(F.col("_qtok_") != F.col("_tok_"))
            .select("_qtok_", "_tok_")
            .distinct()
            .where(F.levenshtein("_qtok_", "_tok_") <= d)
            .withColumn(
                "_sim_", 1.0 - F.levenshtein("_qtok_", "_tok_") / F.length("_qtok_")
            )
        )
        qf = qtoks.join(pairs, "_qtok_")
        fuzzy = qf.join(
            sp, (qf["_tok_"] == sp["_tok_"]) & _filter_pred(qf, sp)
        ).select(
            QID,
            "_pos_",
            RID,
            (F.col("_w_") * F.col("_sim_") * idf * tfn).alias("_c_"),
        )
        candidates = exact.unionByName(fuzzy)

    # --- per-token best contribution, then per-(query,doc) score -------
    contrib = candidates.groupBy(QID, "_pos_", RID).agg(F.max("_c_").alias("_c_"))

    if strategy == "predict":
        # PredictStrategy (index/PredictStrategy.scala:31-105): probe a
        # window of n_ngrams tokens centered on the query's term-weight
        # peak (weights ≥ 0.75 of the max) — contributions outside the
        # window are discarded before scoring. Peak location is a
        # per-query window agg over the token weights; no extra shuffle
        # (same QID partitioning as the score agg).
        peaks = (
            qtoks.groupBy(QID)
            .agg(
                F.max(F.struct(F.col("_w_"), (-F.col("_pos_")).alias("_np_"))).alias("_m_")
            )
            .select(QID, (-F.col("_m_._np_")).alias("_peak_"))
        )
        half = n_ngrams // 2
        contrib = (
            contrib.join(peaks, QID)
            .where(
                (F.col("_pos_") >= F.col("_peak_") - half)
                & (F.col("_pos_") <= F.col("_peak_") + half)
            )
        )
        scored = (
            contrib.groupBy(QID, RID)
            .agg(
                F.sum("_c_").alias("_score_"),
                F.greatest(F.min("_peak_") - half, F.lit(0)).alias("_startIndex_"),
            )
            .withColumn("_endIndex_", (F.col("_startIndex_") + n_ngrams).cast("int"))
        )
    elif strategy == "ngram":
        n = n_ngrams
        if term_weights_col is None:
            # Anchored range-frame windows instead of exploding each
            # contribution into its n covering windows: sum over
            # positions [pos-(n-1), pos] at every contributing pos.
            # Every anchored frame IS a valid n-token window, and the
            # best window is always dominated by the frame anchored at
            # its last contributing position (contributions are ≥ 0
            # here — constant weights), with the same sum and an equal
            # or earlier start — so max score, tie-break, and
            # _startIndex_ are IDENTICAL to the exploded formulation,
            # at 1/n the rows and one window pass instead of
            # explode + re-agg (74s → ~8s for the window stage on the
            # 50k-probe scale test).
            wspec = (
                Window.partitionBy(QID, RID)
                .orderBy("_pos_")
                .rangeBetween(-(n - 1), 0)
            )
            per_window = contrib.select(
                QID,
                RID,
                F.sum("_c_").over(wspec).alias("_s_"),
                F.greatest(F.col("_pos_") - (n - 1), F.lit(0)).alias("_win_"),
            )
        else:
            # negative per-term weights break the domination argument —
            # keep the exhaustive per-window enumeration
            per_window = (
                contrib.withColumn(
                    "_win_",
                    F.explode(
                        F.sequence(
                            F.greatest(F.col("_pos_") - (n - 1), F.lit(0)),
                            F.col("_pos_"),
                        )
                    ),
                )
                .groupBy(QID, RID, "_win_")
                .agg(F.sum("_c_").alias("_s_"))
            )
        # best window per (query, doc); ties → earliest window. The
        # window sum is rounded to 6dp BEFORE the argmax so equal-sum
        # windows tie exactly (raw float sums are order-dependent)
        scored = (
            per_window.groupBy(QID, RID)
            .agg(
                F.max(
                    F.struct(
                        F.round(F.col("_s_"), 6).alias("_s_"),
                        (-F.col("_win_")).alias("_nw_"),
                    )
                ).alias("_m_")
            )
            .select(
                QID,
                RID,
                F.col("_m_._s_").alias("_score_"),
                (-F.col("_m_._nw_")).alias("_startIndex_"),
                (-F.col("_m_._nw_") + n).alias("_endIndex_"),
            )
        )
    else:
        scored = (
            contrib.groupBy(QID, RID)
            .agg(F.sum("_c_").alias("_score_"))
            .withColumn("_startIndex_", F.lit(0))
            .withColumn("_endIndex_", F.lit(None).cast("int"))
        )

    if popularity_col:
        pop = index.right.select(RID, F.col(popularity_col).alias("_popval_"))
        scored = (
            scored.join(pop, RID)
            .withColumn("_score_", F.col("_score_") * F.coalesce("_popval_", F.lit(1.0)))
            .drop("_popval_")
        )

    # rank on the 6dp-ROUNDED score: candidates with equal true scores
    # (common once the dictionary is large) accumulate their idf sums
    # in engine/partition-dependent order, and a raw-float ordering
    # would pick different winners per run — the tie-break columns
    # must actually engage on ties (oracles rank the same way)
    order = [F.round(F.col("_score_"), 6).desc()]
    tb_names: list[str] = []
    if tie_break_cols:
        tb_names = [f"_tb{i}_" for i in range(len(tie_break_cols))]
        tb = index.right.select(
            RID, *[F.col(c).alias(a) for c, a in zip(tie_break_cols, tb_names)]
        )
        scored = scored.join(tb, RID)
        order += [F.col(a).asc() for a in tb_names]
    order.append(F.col(RID))
    w = Window.partitionBy(QID).orderBy(*order)
    best = (
        scored.withColumn("_rk_", F.row_number().over(w))
        .where((F.col("_rk_") <= top_k) & (F.col("_score_") >= F.lit(min_score)))
        .drop("_rk_", *tb_names)
    )

    # --- reassemble -----------------------------------------------------
    qtok_arrays = (
        qtoks.groupBy(QID)
        .agg(F.array_sort(F.collect_list(F.struct("_pos_", "_qtok_"))).alias("_ts_"))
        .select(QID, F.transform("_ts_", lambda s: s["_qtok_"]).alias("_alltoks_"))
    )
    enriched = (
        best.join(index.right, RID)
        .join(qtok_arrays, QID, "left")
        .withColumn(
            "_endIndex_",
            F.least(
                F.coalesce(F.col("_endIndex_"), F.size("_alltoks_")),
                F.size("_alltoks_"),
            ).cast("int"),
        )
        .withColumn(
            "_tags_",
            F.slice(
                "_alltoks_",
                F.col("_startIndex_") + 1,
                F.col("_endIndex_") - F.col("_startIndex_"),
            ),
        )
        .drop("_alltoks_", RID)
    )

    out = left_id.join(enriched, QID, "left").drop(QID)
    return out.withColumn("_score_", F.col("_score_").cast("float")).withColumn(
        "_startIndex_", F.col("_startIndex_").cast("int")
    )


def fuzzy_lookup_array(
    left: DataFrame,
    right: DataFrame,
    queries_col: str,
    text_col: str,
    *,
    result_col: str = "_results_",
    **options,
) -> DataFrame:
    """Array-of-queries variant (luceneLookups' array join,
    index/implicits.scala:220-229): each element of ``queries_col``
    (array<string>) is matched independently; results come back as
    ``result_col`` = array<struct> aligned with the query array (null
    struct fields where an element had no match).

    Plan: posexplode the query array → the scalar ``fuzzy_lookup`` on
    the exploded rows (one shared index build) → collect_list back per
    row ordered by element position. Options pass through."""
    ARR_ID = "_aid_"
    POS = "_apos_"
    left_id = left.withColumn(ARR_ID, F.monotonically_increasing_id())
    # per-row typed filters (filter_cols) reference left columns — they
    # must ride through the explode to reach the inner lookup
    carry = [l for l, _ in options.get("filter_cols", ())]
    exploded = left_id.select(
        ARR_ID, *carry, F.posexplode_outer(queries_col).alias(POS, "_query_")
    )
    matched = fuzzy_lookup(exploded, right, "_query_", text_col, **options)
    right_cols = [
        c for c in matched.columns if c not in (ARR_ID, POS, "_query_", *carry)
    ]
    grouped = (
        matched.groupBy(ARR_ID)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(POS), F.struct(*right_cols).alias("_r_"))
                )
            ).alias("_rs_")
        )
        .select(
            ARR_ID,
            F.transform("_rs_", lambda s: s["_r_"]).alias(result_col),
        )
    )
    return left_id.join(grouped, ARR_ID, "left").drop(ARR_ID)


def fuzzy_lookup_cols(
    left: DataFrame,
    right: DataFrame,
    query_cols: Sequence[str],
    text_col: str,
    *,
    result_suffix: str = "_match_",
    **options,
) -> DataFrame:
    """Multiple simultaneous query columns (luceneLookup's
    ``Seq[Column]`` query form, index/implicits.scala:15-57,220): each
    named column is looked up independently against the SAME index and
    comes back as its own struct column ``<col><result_suffix>`` with
    the right payload + ``_score_``/``_tags_``/``_startIndex_``/
    ``_endIndex_`` fields.

    Plan: pack the columns into one array → ``fuzzy_lookup_array``
    (one shared index build, one probe plan for all columns) → unpack
    by position. The per-column match structs stay independent, as in
    the reference."""
    arr = F.array(*[F.col(c).cast("string") for c in query_cols])
    TMP = "_qcols_"
    out = fuzzy_lookup_array(
        left.withColumn(TMP, arr), right, TMP, text_col,
        result_col="_colres_", **options,
    )
    for i, c in enumerate(query_cols):
        out = out.withColumn(f"{c}{result_suffix}", F.col("_colres_")[i])
    return out.drop(TMP, "_colres_")
