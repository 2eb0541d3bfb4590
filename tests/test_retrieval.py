"""BM25 retrieval: hand-checked ranking semantics on a tiny corpus.

The sf0.001 oracle-parity suite covers q117 end-to-end; these tests pin
the operator's SEMANTICS on inputs small enough to reason about by
hand: idf ordering (rare term outranks common term), length
normalization (short doc outranks long doc at equal tf), duplicate
query terms counting once, the k cut and the ascending-id tie-break.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from demy_spark.operators.retrieval import bm25_search


def _search(spark, docs, queries, **kw):
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, qtext string")
    out = bm25_search(ddf, "doc_id", "text", qdf, "query_id", "qtext", **kw)
    return [tuple(r) for r in out.orderBy("query_id", "rk").collect()]


def test_rare_term_outranks_common(spark):
    # "zebra" appears in one doc, "the" in all — the zebra doc must win
    docs = [
        (1, "the cat sat"),
        (2, "the dog ran"),
        (3, "the zebra grazed"),
    ]
    rows = _search(spark, docs, [(1, "zebra the")])
    assert rows[0][1] == 3 and rows[0][3] == 1


def test_length_normalization(spark):
    # same tf=1 for the query term; the shorter doc scores higher
    docs = [
        (1, "spark shuffles data across the cluster nodes every stage"),
        (2, "spark joins"),
    ]
    rows = _search(spark, docs, [(1, "spark")])
    assert [r[1] for r in rows] == [2, 1]


def test_duplicate_query_terms_count_once(spark):
    docs = [(1, "alpha beta"), (2, "alpha gamma")]
    once = _search(spark, docs, [(1, "alpha")])
    twice = _search(spark, docs, [(1, "alpha alpha alpha")])
    assert [(r[1], r[2]) for r in once] == [(r[1], r[2]) for r in twice]


def test_k_cut_and_id_tiebreak(spark):
    # four identical docs tie exactly; k=3 keeps the three lowest ids
    docs = [(i, "same words here") for i in (4, 2, 9, 7)]
    rows = _search(spark, docs, [(1, "same")], k=3)
    assert [r[1] for r in rows] == [2, 4, 7]
    assert [r[3] for r in rows] == [1, 2, 3]
    assert len({r[2] for r in rows}) == 1


def test_score_matches_reference_formula(spark):
    # one query term, hand-computed BM25 against the closed formula
    docs = [(1, "a b c d"), (2, "a a b"), (3, "x y z")]
    rows = _search(spark, docs, [(1, "a")])
    n, tot = 3, 10
    avgdl = tot / n
    df = 2
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def score(tf, dl):
        tfn = tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        return math.floor(idf * tfn * 1000000.0)

    got = {r[1]: r[2] for r in rows}
    assert got == {1: score(1, 4), 2: score(2, 3)}


def test_no_match_query_absent_and_bad_k(spark):
    docs = [(1, "alpha beta")]
    rows = _search(spark, docs, [(1, "alpha"), (2, "nomatch")])
    assert {r[0] for r in rows} == {1}
    with pytest.raises(ValueError):
        _search(spark, docs, [(1, "alpha")], k=0)


# ---------------------------------------------------------------------------
# phrase_search: anchored exact-phrase semantics
# ---------------------------------------------------------------------------

from demy_spark.operators import retrieval  # noqa: E402
from demy_spark.operators.retrieval import phrase_search  # noqa: E402


# (anchor, bound) paths: the default _HELD_ROWS_MAX (the filtered stream
# held on the driver and finished in pyarrow) and 0 (the distributed
# plan), each under both anchor strategies
PATHS = [(a, h) for a in ("rarest", "all") for h in (retrieval._HELD_ROWS_MAX, 0)]


def _paths(ddf, qdf, qid_col="query_id", **kw):
    """Rows by (query, rank). Runs every path of PATHS and asserts they
    agree exactly."""
    got = []
    for anchor, bound in PATHS:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(retrieval, "_HELD_ROWS_MAX", bound)
            out = phrase_search(
                ddf, "doc_id", "text", qdf, qid_col, "qtext", anchor=anchor, **kw
            )
        assert dict(out.dtypes)["rk"] == "int", (anchor, bound)
        got.append([tuple(r) for r in out.orderBy(qid_col, "rk").collect()])
    assert all(g == got[0] for g in got), got
    return got[0]


def _phrases(spark, docs, queries, **kw):
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, qtext string")
    return _paths(ddf, qdf, **kw)


def test_phrase_requires_adjacency_and_order(spark):
    docs = [
        (1, "the big cat sleeps"),
        (2, "big red cat sleeps"),   # gap — no match
        (3, "cat big sleeps"),       # wrong order — no match
    ]
    rows = _phrases(spark, docs, [(1, "big cat")])
    assert rows == [(1, 1, 1, 1)]


def test_phrase_occurrences_rank_and_tiebreak(spark):
    docs = [
        (5, "a b x a b"),   # 2 occurrences of "a b"
        (2, "a b y"),       # 1
        (1, "z a b"),       # 1 — ties with doc 2, ascending id wins
    ]
    rows = _phrases(spark, docs, [(1, "a b")])
    assert rows == [(1, 5, 2, 1), (1, 1, 1, 2), (1, 2, 1, 3)]


def test_phrase_duplicate_token_overlaps_count(spark):
    # "la la" in "la la la": anchors 0 and 1 are both complete —
    # overlapping occurrences count (Lucene phrase-freq convention)
    rows = _phrases(spark, [(1, "la la la")], [(1, "la la")])
    assert rows == [(1, 1, 2, 1)]


def test_phrase_k_cut_and_missing_phrase(spark):
    docs = [(i, "p q r") for i in range(1, 6)]
    rows = _phrases(spark, docs, [(1, "p q"), (2, "q p")], k=3)
    assert [r[1] for r in rows if r[0] == 1] == [1, 2, 3]
    assert not [r for r in rows if r[0] == 2]


def test_phrase_single_token_equals_term_count(spark):
    rows = _phrases(spark, [(1, "w v w w")], [(1, "w")])
    assert rows == [(1, 1, 3, 1)]


def test_phrase_null_ids_group_as_one_document(spark):
    # every NULL-id document is one document, as in the oracle's GROUP
    # BY: the rarest-anchored verify join is null-safe on the id, and
    # the held regime gives NULL a dictionary code of its own. A NULL
    # query id returns nothing.
    docs = [(None, "a b a b"), (1, "a b"), (2, "x a")]
    rows = _phrases(spark, docs, [(1, "a b"), (2, "a"), (None, "a")])
    assert rows == [
        (1, None, 2, 1),
        (1, 1, 1, 2),
        (2, None, 2, 1),
        (2, 1, 1, 2),
        (2, 2, 1, 3),
    ]


def test_phrase_duplicate_doc_ids_merge(spark):
    # rows sharing an id are one document's postings: their occurrences
    # add up, and a phrase may span two rows at consecutive positions
    # (the oracle's GROUP BY (qid, id, anchor))
    docs = [(1, "a b"), (1, "x a b"), (2, "b a b"), (3, "a"), (3, "x b")]
    rows = _phrases(spark, docs, [(1, "a b")])
    assert rows == [(1, 1, 2, 1), (1, 2, 1, 2), (1, 3, 1, 3)]


def test_phrase_empty_query_frame(spark):
    assert _phrases(spark, [(1, "a b")], []) == []


def test_phrase_stream_above_the_bound_is_never_collected(spark, monkeypatch):
    """The stats job reads the held plan's row count before anything
    corpus-sized reaches the driver: above _HELD_ROWS_MAX the stream is
    never collected, at the bound it is collected once."""
    cls = type(spark.range(1))
    collected = []
    to_arrow = cls.toArrow

    def spy(df):
        table = to_arrow(df)
        collected.append(table.column_names)
        return table

    monkeypatch.setattr(cls, "toArrow", spy)
    ddf = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b a b"), (3, "c c")], "doc_id long, text string"
    )
    qdf = spark.createDataFrame([(1, "a b")], "query_id long, qtext string")
    # the held plan's 13 rows: 7 postings of a and b, and the anchor a's
    # 3 postings times the phrase length 2
    stream = ["_id_", "_pos_", "_w_"]
    for bound, times in ((12, 0), (13, 1)):
        collected.clear()
        monkeypatch.setattr(retrieval, "_HELD_ROWS_MAX", bound)
        out = phrase_search(ddf, "doc_id", "text", qdf, "query_id", "qtext")
        rows = [tuple(r) for r in out.orderBy("rk").collect()]
        assert rows == [(1, 1, 2, 1), (1, 2, 1, 2)], bound
        assert collected.count(stream) == times, (bound, collected)


def test_phrase_inexact_doc_ids_take_the_distributed_path(spark):
    # Spark groups -0.0 with 0.0, and 'A' with 'a' under UTF8_LCASE,
    # where Arrow compares bits and bytes, so such document ids never
    # take the held regime: each pair is one document.
    qdf = spark.createDataFrame([(1, "a b")], "query_id long, qtext string")
    floats = spark.createDataFrame(
        [(0.0, "a b"), (-0.0, "x a b")], "doc_id double, text string"
    )
    lcase = spark.createDataFrame(
        [("A", "a b"), ("a", "x a b")], "doc_id string, text string"
    ).withColumn("doc_id", F.collate("doc_id", "UTF8_LCASE"))
    for ddf in (floats, lcase):
        out = phrase_search(ddf, "doc_id", "text", qdf, "query_id", "qtext")
        rows = [tuple(r) for r in out.collect()]
        assert len(rows) == 1 and rows[0][2:] == (2, 1), rows


def test_phrase_query_ids_of_inexact_types(spark):
    # Spark codes floating, nested and collated query ids by its own
    # equality (a rank over the query side), so on every path they
    # return the rows a long id returns
    docs = [(1, "a b a b"), (2, "x a b"), (3, "b a")]
    queries = [(1, "a b"), (2, "b a")]
    base = _phrases(spark, docs, queries)
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, qtext string")
    for qid in (
        F.col("query_id").cast("double"),
        F.struct("query_id"),
        F.array("query_id"),
        F.collate(F.col("query_id").cast("string"), "UTF8_LCASE"),
    ):
        conv = dict(qdf.select("query_id", qid).collect())
        rows = _paths(ddf, qdf.select(qid.alias("q"), "qtext"), "q")
        assert rows == [(conv[r[0]], *r[1:]) for r in base], (qid, rows)


def _q134_paths(monkeypatch):
    """q134's builder once per regime: the default bound, then the
    distributed plan (bound 0)."""
    from demy_spark import queries as Q

    for bound in (retrieval._HELD_ROWS_MAX, 0):
        monkeypatch.setattr(retrieval, "_HELD_ROWS_MAX", bound)
        yield Q.REGISTRY["q134_phrase_search"].fn


def test_q134_leaves_no_persisted_rdd(spark, sf_dir, monkeypatch):
    """Inside owned(), a q134 call leaves no persisted RDD in either
    regime: the held regime releases the kept stream before returning,
    and the distributed result's cache belongs to the scope (a
    localCheckpoint block would outlive both)."""
    from demy_spark.session import owned

    jsc = spark.sparkContext._jsc
    for fn in _q134_paths(monkeypatch):
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        with owned():
            fn(spark, sf_dir).collect()
        assert set(jsc.getPersistentRDDs().keySet().toArray()) - before == set()


@pytest.mark.parametrize(
    "texts, ranked",
    [
        # two occurrences against one: the NULL-id document ranks first
        (["table table x table table", "table table"], [None, 3]),
        # a tie: the oracle sorts the NULL id last
        (["table table", "table table"], [3, None]),
    ],
    ids=["more", "tie"],
)
def test_q134_null_id_document_matches_oracle(
    spark, tmp_path, monkeypatch, texts, ranked
):
    # _Q134_SQL groups a NULL-id document like any other, and its
    # ORDER BY id puts NULL after every id on a tie
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from demy_spark import queries as Q
    from tests.test_oracle_parity import assert_query_parity

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([None, 3, 4], pa.int64()),
                "text": [*texts, "fast key scan"],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path / 'documents.parquet'}')"
    )
    oracle = Q.REGISTRY["q134_phrase_search"].oracle
    got = con.execute(
        f"SELECT doc_id FROM ({oracle}) WHERE query_id = 1 ORDER BY rk"
    ).fetchall()
    assert got == [(d,) for d in ranked]
    for _ in _q134_paths(monkeypatch):
        assert_query_parity("q134_phrase_search", spark, str(tmp_path), con)


def test_phrase_query_side_stays_broadcast_at_load(spark, monkeypatch):
    """A realistic query load (200 phrases vs the fixture's 5) must
    not tip the QUERY-side joins into a shuffle: every query-frame
    join carries an explicit broadcast hint regardless of query count
    (VERDICT r6 task 7; scripts/probe_phrase_load_r7.py +
    probe_phrase_zipf_r8.py, as of commit 49a9b30, measure the
    wall-time side). Under the
    default rarest-term anchoring the ONE join allowed to shuffle is
    the positional verify join — corpus vs corpus on
    (_id_, _w_, _pos_), which no broadcast can absorb at scale. The
    query side is the plan's only other join input: three broadcast
    frames under rarest-term anchoring (anchor offsets, other offsets,
    phrase lengths), two under "all" (tokens, phrase lengths); every
    join but the verify join must broadcast. The plans are the
    distributed regime's (bound 0)."""
    import re

    monkeypatch.setattr(retrieval, "_HELD_ROWS_MAX", 0)
    docs = spark.createDataFrame(
        [(i, f"tok{i % 37} tok{(i + 1) % 37} tok{(i + 2) % 37}") for i in range(300)],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(i, f"tok{i % 37} tok{(i + 1) % 37}") for i in range(200)],
        "qid long, qtext string",
    )
    for mode, allow_smj, query_frames in (("rarest", True, 3), ("all", False, 2)):
        out = phrase_search(
            docs, "doc_id", "text", queries, "qid", "qtext", k=5, anchor=mode
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        smjs = [
            ln for ln in plan.splitlines() if "SortMergeJoin" in ln
        ]
        if allow_smj:
            assert all(
                re.search(r"SortMergeJoin \[_id_#\d+L?, _w_#\d+, _pos_#\d+", ln)
                for ln in smjs
            ), smjs
        else:
            assert not smjs
        joins = [
            ln for ln in plan.splitlines() if re.search(r"(Join|CartesianProduct) ", ln)
        ]
        assert all("BroadcastHashJoin" in ln or ln in smjs for ln in joins), joins
        assert plan.count("BroadcastHashJoin") >= query_frames
        assert out.count() > 0


from demy_spark.operators.retrieval import rrf_fuse  # noqa: E402


def test_rrf_fusion_math_and_missing_items(spark):
    """RRF points are floor(1e6/(k0+rank)) per list, summed; an item
    in only one list contributes only that list's term."""
    a = spark.createDataFrame([(1, 10, 1), (1, 20, 2)], "q long, d long, rk long")
    b = spark.createDataFrame([(1, 20, 1), (1, 30, 2)], "q long, d long, rk long")
    rows = {
        r["doc_id"]: r["rrf_micro"]
        for r in rrf_fuse([(a, "q", "d", "rk"), (b, "q", "d", "rk")]).collect()
    }
    p1, p2 = 1_000_000 // 61, 1_000_000 // 62
    assert rows[10] == p1          # only list a, rank 1
    assert rows[20] == p2 + p1     # rank 2 in a, rank 1 in b
    assert rows[30] == p2          # only list b, rank 2
    # string ids keep their type and their per-query grouping
    # (code-review r7: a forced long cast NULLed them into one group)
    sa = spark.createDataFrame(
        [("qx", "d1", 1), ("qy", "d1", 1)], "q string, d string, rk long"
    )
    srows = rrf_fuse([(sa, "q", "d", "rk")]).collect()
    assert {(r["query_id"], r["doc_id"], r["rk"]) for r in srows} == {
        ("qx", "d1", 1), ("qy", "d1", 1)
    }


def test_rrf_tie_break_and_k_cut(spark):
    """Equal fused scores order by ascending doc id; rk cuts at k."""
    a = spark.createDataFrame(
        [(1, d, r) for r, d in enumerate([5, 3, 9, 1, 7], start=1)],
        "q long, d long, rk long",
    )
    out = rrf_fuse([(a, "q", "d", "rk")], k=3).collect()
    assert [(r["doc_id"], r["rk"]) for r in sorted(out, key=lambda r: r["rk"])] == [
        (5, 1), (3, 2), (9, 3)
    ]
    # symmetric ties: two single-item lists at the same rank
    x = spark.createDataFrame([(1, 8, 1)], "q long, d long, rk long")
    y = spark.createDataFrame([(1, 2, 1)], "q long, d long, rk long")
    tied = rrf_fuse([(x, "q", "d", "rk"), (y, "q", "d", "rk")]).collect()
    assert [(r["doc_id"], r["rk"]) for r in sorted(tied, key=lambda r: r["rk"])] == [
        (2, 1), (8, 2)
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])
