"""Inverted-index keyword retrieval: BM25-ranked top-k documents per
query.

The engine-side complement of the fuzzy text lookup join
(`operators/fuzzy_lookup.py` builds token postings to JOIN two tables
on similarity, reference `mllib/src/main/scala/index/implicits.scala`
/ `index/IndexStrategy.scala`): the reference has no standalone
keyword-retrieval analog — like `operators/chunking.py`, this is a
no-reference-analog extension. Here the postings serve ad-hoc
KEYWORD QUERIES
ranked by Okapi BM25 — the canonical retrieval scorer, and the
standard "find the documents about X" primitive a corpus-curation
pipeline uses for audits, targeted sampling and eval-set mining.

Scale shape:
- One map-side-combined shuffle reduces the token stream to postings
  (doc, term, tf); per-document lengths ride a partition-only window
  over that REDUCED frame (never the token stream).
- The query table is broadcast (queries are human-sized); corpus-side
  df is computed AFTER the postings are filtered to query terms — a
  partition-only window over the query-term-sized frame (r14), so the
  full-vocabulary document-frequency table (billions of terms at
  100 TB) is never materialized, never broadcast, and no second
  corpus pass computes it.
- Corpus statistics (N, total length) are a 1-row cross-joined frame
  reduced from one NARROW doc-level scan (token counts), never from a
  second pass over the postings (r14).
- Per-term contributions quantize to integer micro-units BEFORE the
  per-(query, doc) sum (partial-aggregation order independence — the
  oracle-gate convention), and the final top-k is a rank window per
  query id that Spark prunes with WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.functions.textstats import norm_tokens

__all__ = ["bm25_search", "phrase_search", "rrf_fuse"]


def bm25_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    quantize: int = 10**6,
) -> DataFrame:
    """Rank the top ``k`` documents per query by BM25.

    Scoring (the Lucene-style non-negative idf variant):
    ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)`` and
    ``tfn = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))``;
    each term contributes ``floor(idf * tfn * quantize)`` as an
    INTEGER and the per-(query, doc) score is the integer sum, so the
    result is independent of partial-aggregation order and a rank
    boundary never rides on a 1-ulp float. Duplicate query terms count
    once (the standard short-query convention). Ties break on
    ascending document id.

    Returns (``query_id_col``, ``id_col``, score_micro, rk) with
    ``rk`` in 1..k per query.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = docs.select(
        F.col(id_col).alias("_id_"),
        F.explode(norm_tokens(F.col(text_col))).alias("_w_"),
    )
    postings = toks.groupBy("_id_", "_w_").agg(F.count(F.lit(1)).alias("_tf_"))
    # document length over the REDUCED postings frame; partition-only
    # window (no ORDER BY) so there is no running-frame re-scan
    postings = postings.withColumn(
        "_dl_", F.sum("_tf_").over(Window.partitionBy("_id_"))
    )
    # corpus stats from ONE NARROW doc-level aggregate (r14, guide
    # §2.4): the old `postings.agg(countDistinct, sum)` re-ran the
    # whole tokenize + postings shuffle a second time just to reduce
    # it to two numbers (3 exchanges in the before-plan). N docs and
    # total length are already decided by each doc's token COUNT — a
    # single scan-and-aggregate, zero shuffles of postings. Exactly
    # equivalent for unique ``id_col`` (the operator's contract:
    # duplicate ids would already merge wrongly in the _dl_ window):
    # explode emits size(toks) rows per doc and none for NULL/empty
    # (size() is NULL/-1 there, which the `> 0` filter drops in both
    # ANSI and legacy modes). N counts the ID column, not rows: the
    # old countDistinct skipped NULL ids while their tokens still
    # reached the length total — replayed exactly (degenerate-fuzz
    # pins it via the NULL-business-key document).
    ntok = F.size(norm_tokens(F.col(text_col)))
    stats = (
        docs.select(F.col(id_col).alias("_id_"), ntok.alias("_nt_"))
        .where(F.col("_nt_") > 0)
        .agg(
            F.count("_id_").alias("_n_"),
            F.sum("_nt_").cast("long").alias("_tot_"),
        )
    )
    qterms = queries.select(
        F.col(query_id_col).alias("_qid_"),
        F.explode(F.array_distinct(norm_tokens(F.col(query_text_col)))).alias(
            "_w_"
        ),
    )
    # filter postings to query terms FIRST: df is then computed over a
    # query-term-sized frame — the only safe order at web-corpus
    # vocabulary sizes
    matched = postings.join(
        F.broadcast(qterms.select("_w_").distinct()), "_w_"
    )
    # per-term df as a partition-only window over the FILTERED frame
    # (r14): the old shape aggregated a SECOND evaluation of `matched`
    # (a full corpus re-tokenize + postings shuffle) into a broadcast
    # df table and joined it back. The window attaches the identical
    # per-term count with one query-term-sized exchange and no second
    # corpus pass — the plan's 3 scans drop to 2 (one postings pass +
    # the narrow stats scan), shuffle exchanges 10 -> 7.
    scored = (
        matched.withColumn(
            "_df_", F.count(F.lit(1)).over(Window.partitionBy("_w_"))
        )
        .join(F.broadcast(qterms), "_w_")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("_n_") - F.col("_df_") + 0.5) / (F.col("_df_") + 0.5) + 1.0
    )
    tfn = (F.col("_tf_") * (k1 + 1.0)) / (
        F.col("_tf_")
        + k1
        * (
            1.0
            - b
            + b * F.col("_dl_") / (F.col("_tot_") * 1.0 / F.col("_n_"))
        )
    )
    term_micro = F.floor(idf * tfn * F.lit(float(quantize))).cast("long")
    agg = (
        scored.select("_qid_", "_id_", term_micro.alias("_tm_"))
        .groupBy("_qid_", "_id_")
        .agg(F.sum("_tm_").alias("score_micro"))
    )
    wq = Window.partitionBy("_qid_").orderBy(
        F.col("score_micro").desc(), F.col("_id_").asc()
    )
    return (
        agg.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= k)
        .select(
            F.col("_qid_").alias(query_id_col),
            F.col("_id_").alias(id_col),
            "score_micro",
            "rk",
        )
    )


def phrase_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    *,
    k: int = 10,
    anchor: str = "rarest",
) -> DataFrame:
    """Exact-phrase retrieval over a positional index: top ``k``
    documents per query ranked by how many times the query's tokens
    occur CONSECUTIVELY AND IN ORDER (the proximity complement of
    ``bm25_search``'s bag-of-words ranking — Lucene's PhraseQuery with
    slop 0, the second half of any real retrieval surface).

    Instead of chaining one join per phrase position (m-way join, m-1
    shuffles), every match is ANCHORED: a posting (doc, pos, w) that
    equals phrase token i implies a candidate occurrence starting at
    ``pos - i``. Two anchoring strategies (identical results — the
    parity test replays both against one oracle):

    - ``anchor="all"``: every query-term posting fans out to every
      offset its token occupies; an anchor carrying all m distinct
      offsets is a hit. One broadcast equi-join + two shrinking aggs;
      shuffle volume is the OFFSET FAN-OUT Σ_(phrase,i) df(token_i).
    - ``anchor="rarest"`` (default): Lucene's PhraseQuery strategy
      (`mllib/src/main/scala/index/NgramStrategy.scala:197-290` is
      the reference's greedy-expansion analog) — only each phrase's
      LOWEST-df term generates candidate anchors; the other offsets
      are then verified with one positional equi-join against the
      query-term postings. Shuffle volume is the query-term postings
      (NO offset fan-out) + df_min(phrase) x (m-1) probe rows, so the
      win over "all" is the df ratio between the rarest and the
      average phrase term — large on Zipfian corpora where stopwords
      dominate phrase offsets, ~nil on uniform vocabularies
      (PLANS.md round-7/round-8 probes). Per-phrase term df is
      computed from the token-filtered stream (query-term-sized
      frame, never a full-vocabulary table); a phrase term absent
      from the corpus gets df 0 and becomes the anchor, correctly
      yielding zero candidates. Costs two extra scans of the
      token-filtered positional stream (df agg + anchors + verify
      are three consumers; a measured exchange-reuse variant was
      slower — see the in-body note).

    Scale shape (both strategies):
    - The positional token stream is the corpus's one wide frame; it
      is filtered to query terms by a broadcast semi-join BEFORE any
      shuffle, so every downstream frame is query-term-sized.
    - Queries are human-sized and broadcast everywhere; nothing
      corpus-scale is ever collected. The query-term postings are
      broadcast into the verify join only when their size estimate
      is under the broadcast threshold (small corpora); otherwise
      that join shuffles both sides.
    - Occurrence counting is shrinking hash aggregations, map-side
      combined; the top-k is a WindowGroupLimit-prunable rank window.

    Returns (``query_id_col``, ``id_col``, n_occurrences, rk) with
    ``rk`` in 1..k per query, ranked by occurrence count descending,
    ties to ascending document id. Queries whose phrase never occurs
    return no rows (retrieval convention, same as bm25_search).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if anchor not in ("all", "rarest"):
        raise ValueError(f"unknown anchor strategy {anchor!r}")
    dtok = docs.select(
        F.col(id_col).alias("_id_"),
        F.posexplode(norm_tokens(F.col(text_col))).alias("_pos_", "_w_"),
    )
    qtok = queries.select(
        F.col(query_id_col).alias("_qid_"),
        F.posexplode(norm_tokens(F.col(query_text_col))).alias("_i_", "_w_"),
    )
    qlen = qtok.groupBy("_qid_").agg(F.count(F.lit(1)).alias("_m_"))
    # query-term filter FIRST: the positional stream shrinks to rows
    # whose token appears in some phrase before the anchor shuffle
    matched = dtok.join(F.broadcast(qtok.select("_w_").distinct()), "_w_")
    if anchor == "all":
        cand = matched.join(F.broadcast(qtok), "_w_").select(
            "_qid_",
            "_id_",
            (F.col("_pos_") - F.col("_i_")).alias("_a_"),
            "_i_",
        )
        # a complete occurrence covers offsets 0..m-1 at one anchor; a
        # candidate with anchor < 0 can never cover offset 0, prune early
        covered = cand.where(F.col("_a_") >= 0)
    else:
        # The rarest branch consumes the token-filtered stream THREE
        # times (df agg, anchor join, verify join). r8 measured and
        # rejected a repartition-based exchange-reuse variant (it
        # regressed every probe load — the full shuffle + extra stage
        # boundaries cost more than rescans, PLANS.md round-8). r14
        # materializes the stream WITHOUT a shuffle instead (guide
        # §2.4, the winnow_pairs idiom): a lazy localCheckpoint of the
        # narrow (id, pos, w) rows — the first action runs the
        # tokenize + broadcast filter once, the other two consumers
        # read the blocks. RDD blocks are ContextCleaner-reclaimed
        # with the plan; each fresh call re-materializes (nothing
        # persists across runs).
        matched = matched.localCheckpoint(eager=False)
        # positional df per query term, from the FILTERED stream (the
        # full-vocabulary df table is never built); terms absent from
        # the corpus keep df 0 via the left join below
        df_q = matched.groupBy("_w_").agg(F.count(F.lit(1)).alias("_df_"))
        ranked = qtok.join(F.broadcast(df_q), "_w_", "left").withColumn(
            "_df_", F.coalesce(F.col("_df_"), F.lit(0))
        )
        wr = Window.partitionBy("_qid_").orderBy(
            F.col("_df_").asc(), F.col("_i_").asc()
        )
        # exactly one anchor offset per phrase: lowest df, ties to the
        # earliest offset
        anchors_q = (
            ranked.withColumn("_rk_", F.row_number().over(wr))
            .where(F.col("_rk_") == 1)
            .select("_qid_", F.col("_i_").alias("_ai_"), "_w_")
        )
        others_q = ranked.join(
            F.broadcast(anchors_q.select("_qid_", "_ai_")), "_qid_"
        ).where(F.col("_i_") != F.col("_ai_"))
        # candidate anchors: postings of each phrase's rarest term only
        anchors = (
            matched.join(F.broadcast(anchors_q), "_w_")
            .select(
                "_qid_",
                "_id_",
                (F.col("_pos_") - F.col("_ai_")).alias("_a_"),
                "_ai_",
            )
            .where(F.col("_a_") >= 0)
        )
        # verify every other offset with ONE positional equi-join:
        # probe (doc, token, anchor+i) against the filtered postings
        probes = (
            anchors.select("_qid_", "_id_", "_a_")
            .join(F.broadcast(others_q.select("_qid_", "_i_", "_w_")), "_qid_")
            .select(
                "_qid_",
                "_id_",
                "_a_",
                "_i_",
                "_w_",
                (F.col("_a_") + F.col("_i_")).alias("_pos_"),
            )
        )
        verified = probes.join(matched, ["_id_", "_w_", "_pos_"]).select(
            "_qid_", "_id_", "_a_", "_i_"
        )
        covered = anchors.select(
            "_qid_", "_id_", "_a_", F.col("_ai_").alias("_i_")
        ).unionByName(verified)
    hits = (
        covered.groupBy("_qid_", "_id_", "_a_")
        .agg(F.count_distinct(F.col("_i_")).alias("_c_"))
        .join(F.broadcast(qlen), "_qid_")
        .where(F.col("_c_") == F.col("_m_"))
    )
    agg = hits.groupBy("_qid_", "_id_").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    wq = Window.partitionBy("_qid_").orderBy(
        F.col("n_occurrences").desc(), F.col("_id_").asc()
    )
    return (
        agg.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= k)
        .select(
            F.col("_qid_").alias(query_id_col),
            F.col("_id_").alias(id_col),
            "n_occurrences",
            "rk",
        )
    )


def rrf_fuse(
    rankings: list[tuple[DataFrame, str, str, str]],
    *,
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion of heterogeneous rankings — the standard
    hybrid-retrieval combiner (Cormack/Clarke/Buettcher SIGIR'09, the
    fusion every sparse+dense production stack ships): each list
    contributes ``1/(k0 + rank)`` per item and the fused score is the
    sum, so lists need share no score scale — only ranks matter.

    ``rankings`` is a list of ``(df, query_col, id_col, rank_col)``;
    each frame holds one system's per-query top list. Points are
    integer micro-units ``floor(1e6 / (k0 + rank))`` — exact in any
    engine, so the DuckDB oracle replays fusion bit-for-bit and rank
    boundaries never ride a float ulp. Items missing from a list
    simply contribute nothing for it (standard RRF). Returns
    (query_id, doc_id, rrf_micro, rk) with rk 1..k per query, ties to
    ascending id.

    Scale shape: inputs are top-k lists — (queries × k) rows, never
    corpus-sized — so the union + hash aggregation + rank window all
    operate on retrieval-result volumes regardless of corpus size."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    # ids keep their caller types (string query/doc ids are as valid
    # as bigints — a forced long cast would NULL string ids and merge
    # every query into one fused group); mismatched types across
    # rankings fail loudly in unionByName below
    parts = [
        df.select(
            F.col(qc).alias("query_id"),
            F.col(ic).alias("doc_id"),
            F.floor(F.lit(1_000_000) / (F.lit(k0) + F.col(rc)))
            .cast("long")
            .alias("_pts_"),
        )
        for df, qc, ic, rc in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("_pts_").cast("long").alias("rrf_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
