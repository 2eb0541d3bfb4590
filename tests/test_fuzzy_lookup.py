"""Golden tests for fuzzy_lookup, ported from the reference's own suite
(mllib/src/test/scala/index/implicits.scala:11-199). Parity is on
*ranking behavior* (top-1 identity), not raw score values — the score
function is demy_spark's own documented BM25-style blend.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demy_spark.operators.fuzzy_lookup import FuzzyIndex, fuzzy_lookup


def _lookup_pairs(df, extra=()):
    rows = (
        df.where(F.col("text").isNotNull())
        .select("query", "text", *extra)
        .collect()
    )
    return [tuple(r) for r in rows]


def test_perfect_match(spark):
    left = spark.createDataFrame([("foo",), ("bar",)], ["query"])
    right = spark.createDataFrame(
        [("this is bar", 99), ("I am out of here!", 99)], ["text", "val"]
    )
    out = fuzzy_lookup(left, right, "query", "text", max_lev_distance=0)
    assert _lookup_pairs(out, ["val"]) == [("bar", "this is bar", 99)]


def test_min_score_excludes_spam(spark):
    left = spark.createDataFrame([("Twitter",), ("Fort Worth",)], ["query"])
    right = spark.createDataFrame(
        [("Titter Khel",), ("I am out of here!",), ("Fort Worth, TX",)], ["text"]
    )
    out = fuzzy_lookup(left, right, "query", "text", max_lev_distance=0, min_score=1.0)
    assert _lookup_pairs(out) == [("Fort Worth", "Fort Worth, TX")]


def test_acronyms(spark):
    left = spark.createDataFrame(
        [("Fort Worth, TX",), ("Des Plaines, IL",), ("IL",), ("OH",), ("Columbus, OH",)],
        ["query"],
    )
    right = spark.createDataFrame(
        [
            ("Illinois, IL",),
            ("Wœrth, FR",),
            ("Fort Worth, TX",),
            ("Des Plaines, US, IL",),
            ("Sainte-Anne-des-Plaines, CA",),
            ("Beau Bassin MU",),
            ("Ohio, OH, US",),
            ("Columbus, US, OH",),
            ("Columbus, NI",),
        ],
        ["text"],
    )
    out = fuzzy_lookup(
        left, right, "query", "text", max_lev_distance=0, boost_acronyms=True
    )
    expected = {
        "Fort Worth, TX": "Fort Worth, TX",
        "Des Plaines, IL": "Des Plaines, US, IL",
        "IL": "Illinois, IL",
        "OH": "Ohio, OH, US",
        "Columbus, OH": "Columbus, US, OH",
    }
    assert dict(_lookup_pairs(out)) == expected


def test_ngram_strategy(spark):
    query = "In South east of CA lies the beauty of Glasgow in Scotland England"
    left = spark.createDataFrame([(query,)], ["query"])
    right = spark.createDataFrame(
        [
            ("Wœrth, FR",),
            ("Sainte-Anne-des-Plaines, CA",),
            ("Cardiff",),
            ("South Wales Valley",),
            ("New Glasgow, Californien CA",),
            ("North west Glasgow GB Scotland",),
            ("Glasgow South France",),
        ],
        ["text"],
    )
    out = fuzzy_lookup(
        left, right, "query", "text",
        max_lev_distance=0, strategy="ngram", n_ngrams=3,
    )
    assert _lookup_pairs(out) == [(query, "North west Glasgow GB Scotland")]
    row = out.where(F.col("text").isNotNull()).first()
    toks = query.lower().split(" ")
    # winning window must cover "glasgow in scotland"
    assert toks[row["_startIndex_"] : row["_endIndex_"]] == ["glasgow", "in", "scotland"]
    assert row["_tags_"] == ["glasgow", "in", "scotland"]


def test_fuzzy_levenshtein(spark):
    left = spark.createDataFrame([("Glasgo",), ("Cardif",)], ["query"])
    right = spark.createDataFrame(
        [("Glasgow city",), ("Cardiff town",), ("Paris",)], ["text"]
    )
    out = fuzzy_lookup(left, right, "query", "text", max_lev_distance=2)
    assert dict(_lookup_pairs(out)) == {
        "Glasgo": "Glasgow city",
        "Cardif": "Cardiff town",
    }


def test_popularity_boost(spark):
    left = spark.createDataFrame([("Springfield",)], ["query"])
    right = spark.createDataFrame(
        [("Springfield small", 1.0), ("Springfield big", 10.0)], ["text", "pop"]
    )
    out = fuzzy_lookup(
        left, right, "query", "text", max_lev_distance=0, popularity_col="pop"
    )
    assert _lookup_pairs(out) == [("Springfield", "Springfield big")]


def test_unmatched_rows_null_filled(spark):
    left = spark.createDataFrame([("zzz",), ("bar",)], ["query"])
    right = spark.createDataFrame([("this is bar",)], ["text"])
    out = fuzzy_lookup(left, right, "query", "text", max_lev_distance=0)
    rows = {r["query"]: r for r in out.collect()}
    assert rows["zzz"]["text"] is None and rows["zzz"]["_score_"] is None
    assert rows["bar"]["text"] == "this is bar"
    assert rows["bar"]["_tags_"] == ["bar"]
    assert out.count() == 2


def test_index_reuse(spark, tmp_path):
    left = spark.createDataFrame([("bar",)], ["query"])
    right = spark.createDataFrame([("this is bar",), ("nope",)], ["text"])
    idx = FuzzyIndex(right, "text")
    idx.save(str(tmp_path / "fuzzy_idx"))
    loaded = FuzzyIndex.load(spark, str(tmp_path / "fuzzy_idx"))
    out = fuzzy_lookup(
        left, right, "query", "text", max_lev_distance=0, index=loaded
    )
    assert _lookup_pairs(out) == [("bar", "this is bar")]
    # text_col is optional with index= (the postings already carry the
    # right side's tokenization — VERDICT r6 task 6): same result
    out2 = fuzzy_lookup(left, right, "query", max_lev_distance=0, index=loaded)
    assert _lookup_pairs(out2) == [("bar", "this is bar")]
    # ...but required without one
    with pytest.raises(ValueError, match="text_col"):
        fuzzy_lookup(left, right, "query")


def test_index_row_ids_survive_a_shuffled_right(spark, tmp_path):
    """FuzzyIndex stamps its row ids once. ``right`` here is a
    round-robin shuffle output with several non-empty partitions (AQE
    never coalesces a repartition(n), unlike a tiny hash shuffle, which
    it merges into one partition and so hides the bug); its row order
    differs between evaluations, so frames that each re-evaluated the
    stamp would join postings to the wrong rows. A caller-built index
    the caller never persisted, and a save()/load() round trip, must
    both equal the self-built lookup."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    right = spark.createDataFrame(
        [(i, f"{words[i % 6]} {words[i // 6 % 6]} w{i}") for i in range(120)],
        "entity_id long, phrase string",
    ).repartition(4)
    probes = spark.createDataFrame(
        [(i, f"x {words[i % 6]} {words[i * 5 % 6]} w{i * 3}") for i in range(40)],
        "doc_id long, text string",
    )
    kw = dict(max_lev_distance=0, min_score=0.5, tie_break_cols=("entity_id",))

    def rows(out):
        return sorted(
            tuple(r)
            for r in out.where(F.col("phrase").isNotNull())
            .select("doc_id", "phrase", "entity_id")
            .collect()
        )

    # each probe's unique w<3i> token picks entity 3i. The self-built
    # lookup runs LAST: its persisted index would otherwise serve the
    # other two from the CacheManager and hide an unstamped rebuild.
    want = [(i, f"{words[3 * i % 6]} {words[i // 2 % 6]} w{3 * i}", 3 * i) for i in range(40)]
    built = FuzzyIndex(right, "phrase")
    assert rows(fuzzy_lookup(probes, right, "text", index=built, **kw)) == want
    spark.catalog.clearCache()
    path = str(tmp_path / "idx")
    FuzzyIndex(right, "phrase").save(path)
    loaded = FuzzyIndex.load(spark, path)
    assert rows(fuzzy_lookup(probes, right, "text", index=loaded, **kw)) == want
    assert rows(fuzzy_lookup(probes, right, "text", "phrase", **kw)) == want


def test_fuzzy_lookup_array_alignment(spark):
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup_array

    right = spark.createDataFrame(
        [("Illinois", 1), ("Texas", 2), ("Vermont", 3)], ["name", "code"]
    )
    left = spark.createDataFrame(
        [(10, ["illinois", "texas"]), (20, ["vermont", "zzz-no-match"]), (30, [])],
        ["row_id", "queries"],
    )
    out = fuzzy_lookup_array(
        left, right, "queries", "name", max_lev_distance=0, min_score=0.0
    )
    got = {r["row_id"]: r["_results_"] for r in out.collect()}
    assert [x["name"] for x in got[10]] == ["Illinois", "Texas"]
    assert got[10][0]["_score_"] > 0
    v = got[20]
    assert v[0]["name"] == "Vermont"
    assert len(v) in (1, 2)  # unmatched element may carry a null struct
    if len(v) == 2:
        assert v[1]["name"] is None


def test_predict_strategy_scores_only_weight_peak_window(spark):
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    right = spark.createDataFrame(
        [("springfield", 1), ("noise ridge", 2)], ["name", "code"]
    )
    # peak weight sits on 'springfield' (pos 3); 'noise ridge' tokens
    # appear OUTSIDE the 3-token window around the peak, so doc 2 must
    # not outscore doc 1 even though its tokens match twice
    left = spark.createDataFrame(
        [
            (
                10,
                "noise ridge near springfield today noise ridge",
                [0.1, 0.1, 0.2, 1.0, 0.2, 0.1, 0.1],
            )
        ],
        ["row_id", "q", "w"],
    )
    out = fuzzy_lookup(
        left,
        right,
        "q",
        "name",
        max_lev_distance=0,
        strategy="predict",
        n_ngrams=3,
        term_weights_col="w",
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["name"] == "springfield"
    assert (r["_startIndex_"], r["_endIndex_"]) == (2, 5)
    assert r["_tags_"] == ["near", "springfield", "today"]


def test_tie_break_cols_deterministic(spark):
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup

    # two right rows with identical text → identical score; the named
    # tie-break column must decide the winner deterministically
    right = spark.createDataFrame(
        [("springfield", 9), ("springfield", 3), ("shelbyville", 1)],
        ["name", "code"],
    )
    left = spark.createDataFrame([(1, "springfield")], ["row_id", "q"])
    out = fuzzy_lookup(
        left, right, "q", "name", max_lev_distance=0, tie_break_cols=("code",)
    ).collect()
    assert len(out) == 1
    assert out[0]["code"] == 3


def test_fuzzy_lookup_cols_independent_matches(spark):
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup_cols

    left = spark.createDataFrame(
        [(1, "chicago", "illinois"), (2, "houston", "texas")],
        ["id", "city_q", "state_q"],
    )
    right = spark.createDataFrame(
        [("chicago", 10), ("illinois", 20), ("houston", 30), ("texas", 40)],
        ["text", "code"],
    )
    out = fuzzy_lookup_cols(
        left, right, ["city_q", "state_q"], "text", max_lev_distance=0
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["city_q_match_"]["code"] == 10
    assert by_id[1]["state_q_match_"]["code"] == 20
    assert by_id[2]["city_q_match_"]["code"] == 30
    assert by_id[2]["state_q_match_"]["code"] == 40


def test_max_df_default_prunes_ubiquitous_tokens(spark):
    """Default relative max_df: on an index larger than MAX_DF_FLOOR, a
    token present in >50% of docs is pruned from candidate generation;
    rarer tokens still match. max_df=None restores unbounded scoring."""
    n = 300  # > MAX_DF_FLOOR so the relative cap is active
    right = spark.range(n).select(
        F.concat(
            F.lit("common "),  # df = n -> pruned under the default
            F.when(F.col("id") == 7, F.lit("needle")).otherwise(
                F.concat(F.lit("filler"), F.col("id"))
            ),
        ).alias("text"),
        F.col("id").alias("val"),
    )
    left = spark.createDataFrame([("common needle",), ("common",)], ["query"])

    out = fuzzy_lookup(left, right, "query", "text", max_lev_distance=0)
    got = {r["query"]: (r["text"], r["val"]) for r in out.collect()}
    # "needle" (df=1) still matches; the ubiquitous token contributes
    # nothing, so the all-common query has no candidates at all
    assert got["common needle"] == ("common needle", 7)
    assert got["common"] == (None, None)

    unbounded = fuzzy_lookup(
        left, right, "query", "text", max_lev_distance=0, max_df=None
    )
    got_u = {r["query"]: r["text"] for r in unbounded.collect()}
    assert got_u["common"] is not None  # opt-out restores old behavior


def test_max_df_floor_protects_small_indexes(spark):
    """An index far below MAX_DF_FLOOR never prunes — whole-corpus
    scoring semantics are unchanged for dictionary-sized right sides."""
    left = spark.createDataFrame([("the cat",)], ["query"])
    right = spark.createDataFrame(
        [("the cat sat",), ("the dog sat",), ("the bird flew",)], ["text"]
    )
    # "the" has df/N = 1.0 > 0.5 but N=3 << 256: kept
    out = fuzzy_lookup(left, right, "query", "text", max_lev_distance=0)
    assert _lookup_pairs(out) == [("the cat", "the cat sat")]


def test_max_df_rejects_bad_relative(spark):
    import pytest as _pytest

    left = spark.createDataFrame([("x",)], ["query"])
    right = spark.createDataFrame([("x",)], ["text"])
    with _pytest.raises(ValueError):
        fuzzy_lookup(left, right, "query", "text", max_df=1.5)


# --- per-left-row typed point filters -------------------------------------
# Reference semantics: index/IndexStrategy.scala:96-107 — each non-null
# field of the per-probe filter Row becomes an exact-match MUST clause
# (typed fields are point-indexed at write time,
# SparkLuceneWriterInfo.scala:20-42). The reference suite itself always
# passes Row.empty, so these goldens encode the documented contract.


def test_typed_filter_constrains_candidates(spark):
    """A non-null filter value excludes every right row whose typed
    field differs — even when the excluded row scores higher."""
    left = spark.createDataFrame(
        [("Springfield", "US"), ("Springfield", "CA")], ["query", "country"]
    )
    right = spark.createDataFrame(
        [("Springfield", "US", 1), ("Springfield", "CA", 2)],
        ["text", "cc", "gid"],
    )
    out = fuzzy_lookup(
        left,
        right,
        "query",
        "text",
        max_lev_distance=0,
        filter_cols=[("country", "cc")],
    )
    got = {r["country"]: r["gid"] for r in out.collect()}
    assert got == {"US": 1, "CA": 2}


def test_typed_filter_null_left_value_is_unconstrained(spark):
    """filter.isNullAt(i) ⇒ no clause added: a null filter value matches
    everything, per-row (other rows in the same frame stay constrained)."""
    left = spark.createDataFrame(
        [("Fort Worth", None), ("Fort Worth", "FR")], ["query", "country"]
    )
    right = spark.createDataFrame(
        [("Fort Worth, TX", "US", 1), ("Fort Worth, FR", "FR", 2)],
        ["text", "cc", "gid"],
    )
    out = fuzzy_lookup(
        left,
        right,
        "query",
        "text",
        max_lev_distance=0,
        filter_cols=[("country", "cc")],
    )
    rows = {(r["country"], r["gid"]) for r in out.collect()}
    # null → both candidates compete (either may win on score ties);
    # "FR" → only gid=2 is admissible
    assert ("FR", 2) in rows
    assert len(rows) == 2 and all(g in (1, 2) for _, g in rows)


def test_typed_filter_null_right_value_never_matches(spark):
    """An unindexed (null) typed field can never satisfy an exact
    query: the doc is excluded for every non-null filter value."""
    left = spark.createDataFrame([("needle", "US")], ["query", "country"])
    right = spark.createDataFrame(
        [("needle", None, 1), ("needle haystack", "US", 2)],
        ["text", "cc", "gid"],
    )
    out = fuzzy_lookup(
        left, right, "query", "text",
        max_lev_distance=0, filter_cols=[("country", "cc")],
    )
    assert [r["gid"] for r in out.collect()] == [2]


def test_typed_filter_multiple_fields_and_types(spark):
    """Multiple filter pairs AND together; integer typed fields use the
    same exact-point semantics as strings (IntPoint.newExactQuery)."""
    left = spark.createDataFrame(
        [("alpha", "US", 10), ("alpha", "US", 20)], ["query", "country", "zone"]
    )
    right = spark.createDataFrame(
        [
            ("alpha one", "US", 10, 1),
            ("alpha two", "US", 20, 2),
            ("alpha three", "FR", 10, 3),
        ],
        ["text", "cc", "zn", "gid"],
    )
    out = fuzzy_lookup(
        left, right, "query", "text",
        max_lev_distance=0,
        filter_cols=[("country", "cc"), ("zone", "zn")],
    )
    got = {r["zone"]: r["gid"] for r in out.collect()}
    assert got == {10: 1, 20: 2}


def test_typed_filter_applies_to_fuzzy_candidates(spark):
    """The point constraint gates the symmetric-delete fuzzy path too:
    a 1-edit match in the wrong partition loses to one in the right
    partition."""
    left = spark.createDataFrame([("glasgow", "UK")], ["query", "country"])
    right = spark.createDataFrame(
        [("glasgov", "US", 1), ("glasgovv", "UK", 2)], ["text", "cc", "gid"]
    )
    out = fuzzy_lookup(
        left, right, "query", "text",
        max_lev_distance=2, filter_cols=[("country", "cc")],
    )
    assert [r["gid"] for r in out.collect()] == [2]


def test_typed_filter_rides_through_array_variant(spark):
    """fuzzy_lookup_array forwards filter_cols: the left filter column
    survives the posexplode and constrains every array element."""
    from demy_spark.operators.fuzzy_lookup import fuzzy_lookup_array

    left = spark.createDataFrame(
        [(["foo", "bar"], "A")], ["queries", "grp"]
    )
    right = spark.createDataFrame(
        [("foo one", "A", 1), ("foo two", "B", 2),
         ("bar one", "B", 3), ("bar two", "A", 4)],
        ["text", "g", "gid"],
    )
    out = fuzzy_lookup_array(
        left, right, "queries", "text",
        max_lev_distance=0, filter_cols=[("grp", "g")],
    )
    res = out.select("_results_").collect()[0][0]
    assert [r["gid"] for r in res] == [1, 4]


def test_typed_filter_equivalence_randomized(spark):
    """The filter's ONE semantic guarantee, on a randomized corpus: it
    changes candidate ADMISSIBILITY, never scores (index statistics
    stay whole-index, exactly as a Lucene point filter constrains
    traversal without touching the similarity's df/avgdl). So the
    filtered top-1 must equal the unfiltered all-candidates result
    post-filtered on admissibility and re-ranked by the same
    (round(score, 6) DESC, gid) order — including rows whose filter
    value admits nothing (null match) and null-filter rows (whole
    candidate set)."""
    import random

    rng = random.Random(422)
    vocab = [f"w{i}" for i in range(15)]
    zones = ["A", "B", "C", None]

    def mutate(w: str) -> str:  # 1-edit typo
        i = rng.randrange(len(w))
        return w[:i] + rng.choice("xyz") + w[i + 1 :]

    right_rows = [
        (" ".join(rng.sample(vocab, rng.randint(3, 5))), rng.choice(zones), g)
        for g in range(60)
    ]
    left_rows = []
    for lid in range(25):
        toks = rng.sample(vocab, rng.randint(2, 3))
        if rng.random() < 0.5:
            toks[0] = mutate(toks[0])
        left_rows.append((lid, " ".join(toks), rng.choice(zones)))
    right = spark.createDataFrame(right_rows, "text string, cc string, gid int")
    left = spark.createDataFrame(left_rows, "lid int, query string, country string")

    kw = dict(max_lev_distance=1, top_k=1, tie_break_cols=("gid",))
    filtered = {
        r["lid"]: (r["gid"], r["_score_"] or 0.0)
        for r in fuzzy_lookup(
            left, right, "query", "text",
            filter_cols=[("country", "cc")], **kw,
        ).collect()
    }
    allcand = fuzzy_lookup(
        left, right, "query", "text",
        max_lev_distance=1, top_k=10_000, tie_break_cols=("gid",),
    ).collect()

    want_country = {lid: c for lid, _, c in left_rows}
    best: dict[int, tuple] = {}
    for r in allcand:
        if r["gid"] is None:
            continue
        want = want_country[r["lid"]]
        if want is not None and (r["cc"] is None or r["cc"] != want):
            continue
        cand = (-round(r["_score_"], 6), r["gid"])
        if r["lid"] not in best or cand < best[r["lid"]]:
            best[r["lid"]] = cand

    for lid, _, _ in left_rows:
        # same winner; scores equal up to float32 partial-sum order
        # (the two plans aggregate candidate contributions in
        # different orders — a last-ulp difference is expected)
        exp = (best[lid][1], -best[lid][0]) if lid in best else (None, 0.0)
        got = filtered[lid]
        assert got[0] == exp[0], f"lid={lid}: winner {got[0]} != {exp[0]}"
        assert abs(got[1] - exp[1]) < 1e-3, f"lid={lid}: {got[1]} != {exp[1]}"
