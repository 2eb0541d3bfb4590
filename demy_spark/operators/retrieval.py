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

Scale shape of ``bm25_search``:
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

Scale shape of ``phrase_search``: the query side is prepared on the
driver, and the positional token stream, filtered to the query words,
is held once. The size of the plan that would finish on the driver
picks the regime: the stream's rows plus each phrase's anchor postings
times its length. Up to ``_HELD_ROWS_MAX`` such rows, the stream is
collected and the search finishes in pyarrow: a call runs a fixed
handful of Spark jobs (6 for q134), however many phrases it searches.
Above the bound, the anchored distributed plan runs over the held
stream, and nothing corpus-scale reaches the driver.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demy_spark.functions.textstats import norm_tokens
from demy_spark.io import arrow_exact_key, local_frame
from demy_spark.session import keep

__all__ = ["bm25_search", "phrase_search", "rrf_fuse"]

# phrase_search finishes on the driver while its held plan has at most
# this many rows (see the phrase_search docstring for the measurement)
_HELD_ROWS_MAX = 11_000_000


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
    ``pos - i``; an anchor whose m offsets are all present is one
    occurrence. Documents group by id, a NULL id included: all
    NULL-id documents form one document, as in a SQL ``GROUP BY``.

    The query side is human-sized: its tokens are collected once, and
    each phrase's length and anchor offset are chosen on the driver. The
    positional token stream is the corpus's one wide frame: it is
    filtered to the query words (an ``isin`` list, no join) and held
    with ``session.keep``. One stats job reads each query word's
    posting count (df) from it, which picks the anchors and the regime.
    The held plan's rows are the stream's (the sum of the dfs) plus,
    per phrase, its anchor's df times its length m: the anchor, probe
    and covered rows, which grow with the number of phrases that share
    an anchor word:

    - up to ``_HELD_ROWS_MAX`` (11M) held rows (and document ids that
      Arrow keys exactly, ``io.arrow_exact_key``: no floating point,
      nothing nested), the stream is collected once and released, and
      the rest — anchor, verify, the per-anchor distinct-offset count,
      the count per (query, doc) and the top-k rank — runs in pyarrow
      on dictionary codes, returned as a ``LocalRelation``
      (``io.local_frame``). Measured with
      ``scripts/held_cutoff.py phrase_search`` (4-core host,
      ``local[4]``, 4 GB driver heap, a Zipf-like corpus, warm calls),
      held against distributed: with about one phrase per anchor word
      (125 phrases), 2.9M held rows took 1.9-2.3 s against 3.9-5.3 s
      and 11.7M took 4.5-4.8 s against 9.8-10.9 s; with eight (1000
      phrases), 4.2M took 2.0-2.3 s against 4.0-5.4 s and 11.9M took
      4.1-4.4 s against 8.6-10.1 s. The driver's Python process peaked
      at 414, 1179, 596 and 1264 MB against 144 MB (90-110 bytes per
      held row at either fan-out), its JVM at 1.2-1.8 GB against
      2.2-3.9 GB. The bound is the largest size measured at both
      fan-outs, rounded down;
    - above it, or for other id types, the distributed plan below. Its
      lazy result still reads the kept stream, so the caller's
      ``session.owned()`` scope owns that cache.

    ``anchor`` picks the distributed plan's strategy; both return the
    same rows (the parity tests replay both against one oracle), and the
    held regime always anchors on the rarest term:

    - ``anchor="all"``: every query-term posting fans out to every
      offset its token occupies; an anchor carrying all m distinct
      offsets is a hit. One broadcast equi-join + two shrinking aggs;
      shuffle volume is the OFFSET FAN-OUT Σ_(phrase,i) df(token_i).
    - ``anchor="rarest"`` (default): Lucene's PhraseQuery strategy
      (`mllib/src/main/scala/index/NgramStrategy.scala:197-290` is
      the reference's greedy-expansion analog) — only each phrase's
      LOWEST-df term (ties to the earliest offset) generates candidate
      anchors; the other offsets are then verified with one positional
      equi-join, null-safe on the id, against the stream. Shuffle
      volume is the query-term postings (NO offset fan-out) +
      df_min(phrase) x (m-1) probe rows, so the win over "all" is the
      df ratio between the rarest and the average phrase term — large
      on Zipfian corpora where stopwords dominate phrase offsets, ~nil
      on uniform vocabularies (PLANS.md round-7/round-8 probes). A
      phrase term absent from the corpus has df 0 and becomes the
      anchor, correctly yielding zero candidates.

    Distributed scale shape: every query-side frame is a broadcast
    ``LocalRelation``, nothing corpus-scale reaches the driver, the
    verify join broadcasts the stream only when its size is under the
    broadcast threshold, occurrence counting is shrinking hash
    aggregations, map-side combined, and the top-k is a
    WindowGroupLimit-prunable rank window.

    Returns (``query_id_col``, ``id_col``, n_occurrences, rk) with
    ``rk`` (int) in 1..k per query, ranked by occurrence count
    descending, ties to ascending document id (NULL last, as the DuckDB
    oracle sorts). Queries whose phrase never occurs, and queries with
    a NULL id, return no rows (retrieval convention, same as
    bm25_search). Query ids group by Spark's equality: ids of a type
    ``io.arrow_exact_key`` refuses get their grouping code from a Spark
    rank in the query-token collect.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if anchor not in ("all", "rarest"):
        raise ValueError(f"unknown anchor strategy {anchor!r}")
    spark = docs.sparkSession
    q_type = queries.schema[query_id_col].dataType
    id_type = docs.schema[id_col].dataType
    # a NULL query id would never meet its phrase length: no rows
    qtok = queries.select(
        F.col(query_id_col).alias("_qid_"),
        F.posexplode(norm_tokens(F.col(query_text_col))).alias("_i_", "_w_"),
    ).where(F.col("_qid_").isNotNull())
    if not arrow_exact_key(q_type):
        # Arrow would group these ids by bits or bytes: Spark codes them
        # by its own equality (a window over the human-sized query side)
        qtok = qtok.withColumn("_qk_", F.dense_rank().over(Window.orderBy("_qid_")))
    qtok = qtok.toArrow()
    words = pc.unique(qtok.column("_w_"))
    matched = keep(
        docs.select(
            F.col(id_col).alias("_id_"),
            F.posexplode(norm_tokens(F.col(text_col))).alias("_pos_", "_w_"),
        ).where(F.col("_w_").isin(words.to_pylist()))
    )
    # the stats job: each query word's df (0 when absent from the
    # corpus); their sum is the stream's row count
    counts = matched.groupBy("_w_").count().toArrow()
    at = pc.index_in(words, value_set=counts.column("_w_"))
    df = pc.fill_null(pc.take(counts.column("count"), at), 0)
    qt, qlen, fan_out = _phrases(qtok, words, df)
    held_rows = sum(df.to_pylist()) + fan_out
    if held_rows <= _HELD_ROWS_MAX and arrow_exact_key(id_type):
        try:
            stream = matched.toArrow()
        finally:
            matched.unpersist(blocking=True)  # the result reads no cache
        out = T.StructType(
            [
                T.StructField(query_id_col, q_type),
                T.StructField(id_col, id_type),
                T.StructField("n_occurrences", T.LongType()),
                T.StructField("rk", T.IntegerType()),
            ]
        )
        return local_frame(spark, _held_top_k(stream, words, qt, qlen, k), out)

    def frame(table: pa.Table, **types: T.DataType) -> DataFrame:
        schema = T.StructType([T.StructField(c, t) for c, t in types.items()])
        return local_frame(spark, table.select(list(types)), schema)

    tok = {"_qid_": q_type, "_i_": T.IntegerType(), "_w_": T.StringType()}
    if anchor == "all":
        cand = matched.join(F.broadcast(frame(qt, **tok)), "_w_").select(
            "_qid_",
            "_id_",
            (F.col("_pos_") - F.col("_i_")).alias("_a_"),
            "_i_",
        )
        # a complete occurrence covers offsets 0..m-1 at one anchor; a
        # candidate with anchor < 0 can never cover offset 0, prune early
        covered = cand.where(F.col("_a_") >= 0)
    else:
        is_anchor = qt.column("_anchor_")
        anchors_q = frame(qt.filter(is_anchor), **tok).withColumnRenamed("_i_", "_ai_")
        others_q = frame(qt.filter(pc.invert(is_anchor)), **tok)
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
        # probe (doc, token, anchor+i) against the filtered postings,
        # null-safe on the id so NULL-id documents verify like the rest
        probes = (
            anchors.select("_qid_", "_id_", "_a_")
            .join(F.broadcast(others_q), "_qid_")
            .select(
                "_qid_",
                "_id_",
                "_a_",
                "_i_",
                "_w_",
                (F.col("_a_") + F.col("_i_")).alias("_pos_"),
            )
            .alias("p")
        )
        v = matched.alias("v")
        verified = probes.join(
            v,
            F.col("p._id_").eqNullSafe(F.col("v._id_"))
            & (F.col("p._w_") == F.col("v._w_"))
            & (F.col("p._pos_") == F.col("v._pos_")),
        ).select("p._qid_", "p._id_", "p._a_", "p._i_")
        covered = anchors.select(
            "_qid_", "_id_", "_a_", F.col("_ai_").alias("_i_")
        ).unionByName(verified)
    qlen_f = frame(qlen, _qid_=q_type, _m_=T.LongType())
    hits = (
        covered.groupBy("_qid_", "_id_", "_a_")
        .agg(F.count_distinct(F.col("_i_")).alias("_c_"))
        .join(F.broadcast(qlen_f), "_qid_")
        .where(F.col("_c_") == F.col("_m_"))
    )
    agg = hits.groupBy("_qid_", "_id_").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    wq = Window.partitionBy("_qid_").orderBy(
        F.col("n_occurrences").desc(), F.col("_id_").asc_nulls_last()
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


def _phrases(
    qtok: pa.Table, words: pa.Array, df: pa.Array
) -> tuple[pa.Table, pa.Table, int]:
    """The driver-side query plan. ``qtok`` holds the (``_qid_``,
    ``_i_``, ``_w_``) token rows, and a ``_qk_`` code per query id when
    Spark grouped the ids; ``df`` holds each of ``words``' df.
    Returns the token rows with ``_q_`` (the query's index in the
    second table), ``_wc_`` (the word's index in ``words``) and
    ``_anchor_`` (the phrase's one anchor offset: lowest df, ties to
    the earliest offset); the (``_qid_``, ``_m_``) phrase lengths, one
    row per query; and the sum over phrases of the anchor's df times
    the phrase length, the held plan's bound on its anchor, probe and
    covered rows."""
    key = qtok.column("_qk_" if "_qk_" in qtok.column_names else "_qid_")
    q = pc.dictionary_encode(key.combine_chunks()).indices.to_numpy(zero_copy_only=False)
    # the codes run 0..n-1 in order of first occurrence
    _, first = np.unique(q, return_index=True)
    wc = pc.index_in(qtok.column("_w_"), value_set=words)
    i = qtok.column("_i_").to_numpy()
    dfs = pc.take(df, wc).to_numpy()
    order = np.lexsort((i, dfs, q))
    starts = np.ones(len(q), dtype=bool)
    starts[1:] = q[order][1:] != q[order][:-1]
    is_anchor = np.zeros(len(q), dtype=bool)
    is_anchor[order[starts]] = True
    qt = (
        qtok.append_column("_q_", pa.array(q, pa.int32()))
        .append_column("_wc_", wc)
        .append_column("_anchor_", pa.array(is_anchor))
    )
    m = np.bincount(q, minlength=len(first))
    qids = pc.take(qtok.column("_qid_"), pa.array(first, pa.int64()))
    fan_out = int(np.dot(dfs[is_anchor], m[q[is_anchor]]))
    return qt, pa.table({"_qid_": qids, "_m_": pa.array(m, pa.int64())}), fan_out


def _held_top_k(
    stream: pa.Table, words: pa.Array, qt: pa.Table, qlen: pa.Table, k: int
) -> pa.Table:
    """The rarest-anchored plan in pyarrow over the collected (``_id_``,
    ``_pos_``, ``_w_``) stream: (query id, doc id, n_occurrences, rk).
    Ids are dictionary codes throughout, NULL encoded as a code of its
    own, since Arrow's joins never match NULL keys."""
    ids = pc.dictionary_encode(
        stream.column("_id_").combine_chunks(), null_encoding="encode"
    )
    s = pa.table(
        {
            "_d_": ids.indices,
            "_pos_": stream.column("_pos_"),
            "_wc_": pc.index_in(stream.column("_w_"), value_set=words),
        }
    )
    is_anchor = qt.column("_anchor_")
    aq = qt.filter(is_anchor).select(["_q_", "_i_", "_wc_"])
    oq = qt.filter(pc.invert(is_anchor)).select(["_q_", "_i_", "_wc_"])
    j = s.join(aq, "_wc_", join_type="inner")
    anchors = pa.table(
        {
            "_q_": j.column("_q_"),
            "_d_": j.column("_d_"),
            "_a_": pc.subtract(j.column("_pos_"), j.column("_i_")),
            "_i_": j.column("_i_"),
        }
    ).filter(pc.field("_a_") >= 0)
    probes = anchors.select(["_q_", "_d_", "_a_"]).join(oq, "_q_", join_type="inner")
    probes = probes.append_column(
        "_pos_", pc.add(probes.column("_a_"), probes.column("_i_"))
    )
    verified = probes.join(s, ["_d_", "_wc_", "_pos_"], join_type="inner")
    covered = pa.concat_tables(
        [anchors, verified.select(anchors.column_names)]
    )
    hits = covered.group_by(["_q_", "_d_", "_a_"]).aggregate(
        [("_i_", "count_distinct")]
    )
    m = pc.take(qlen.column("_m_"), hits.column("_q_"))
    hits = hits.filter(pc.equal(hits.column("_i__count_distinct"), m))
    n = hits.group_by(["_q_", "_d_"]).aggregate([("_a_", "count")])
    ranked = pa.table(
        {
            "_q_": n.column("_q_"),
            "_id_": pc.take(ids.dictionary, n.column("_d_")),
            "_n_": n.column("_a__count"),
        }
    )
    ranked = ranked.take(
        pc.sort_indices(
            ranked,
            sort_keys=[("_q_", "ascending"), ("_n_", "descending"), ("_id_", "ascending")],
            null_placement="at_end",
        )
    )
    q = ranked.column("_q_").to_numpy()
    rk = np.arange(len(q)) - np.searchsorted(q, q) + 1
    top = rk <= k
    return pa.table(
        [
            pc.take(qlen.column("_qid_"), pa.array(q[top])),
            ranked.column("_id_").filter(top),
            ranked.column("_n_").filter(top),
            pa.array(rk[top], pa.int32()),
        ],
        names=["_qid_", "_id_", "_n_", "_rk_"],
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
