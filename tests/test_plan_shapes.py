"""Physical-plan regression tests: the scale-critical plan shapes the
100 TB design depends on (broadcast small dims, parquet filter
pushdown, distributed top-k, map-side partial aggregation, no
cartesian products) must survive refactors. String-level checks on the
executed plan — coarse on purpose, so Spark version changes in
operator naming don't produce false alarms.
"""

from __future__ import annotations

import re

import pytest

from demy_spark import queries as Q
from demy_spark.operators import retrieval
from demy_spark.session import owned
from perfbench.probe import plan_digest

# queries whose builder functions are pure plan constructors (no
# driver-side collect during build) — cheap to plan at sf0.001
PLANNABLE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_orders",
    "q12_events_hourly",
    "q18_exact_dedup",
    "q23_cosine_topk",
    "q24_fuzzy_lookup",
    "q26_minhash_dedup",
    "q55_asof_join",
    "q56_range_join",
    "q57_time_rollup",
    "q62_skew_join",
    "q63_salted_agg",
    "q67_event_followup",
    # curation ops (q88 excluded: its apportionment window runs
    # single-partition BY DESIGN over the dictionary-sized count frame
    # — covered by test_mixture_targets_join_broadcasts below)
    "q86_contamination_check",
    "q87_canonical_docs",
    # packing: per-bucket prefix-sum windows, never a global window
    "q94_sequence_pack",
    # sub-document dedup + data selection (q100 excluded: ivf_build
    # runs driver-side Lloyd rounds during construction)
    "q96_line_dedup",
    "q97_duplicated_spans",
    "q98_lm_quality",
    "q99_dsir_select",
    "q102_strip_spans",
    "q103_source_overlap",
    "q105_weighted_sample",
    "q106_distinctive_terms",
    "q107_snapshot_diff",
    # linkage family (q109's builder runs one eager count to pin the
    # range boundaries — still cheap to plan at sf0.001)
    "q108_record_linkage",
    "q109_sorted_neighborhood",
    "q110_incremental_pipeline",
    # round-4 additions (q113/q115/q116 excluded: per-merge
    # localCheckpoint rounds execute during construction, like q100's
    # Lloyd rounds; q118 excluded: the ORC write executes during
    # construction)
    "q111_chunk_documents",
    "q112_tfidf_terms",
    "q114_knn_classify",
    "q117_bm25_search",
    "q119_group_median",
    "q120_events_sliding",
    # round-5 additions (q123 excluded: driver-side Lloyd rounds like
    # q100; q122's index build is lazy like q24's)
    "q122_fuzzy_typed_filter",
    "q124_repetition_profile",
    "q125_unicode_hygiene",
    "q126_html_strip",
    "q127_winnow_pairs",
    "q128_json_props",
    "q129_url_parse",
    "q130_script_profile",
    # round-6 additions (q134 excluded: its builder collects the query
    # side and the stream's term counts, and finishes on the driver
    # when the stream fits; its pins read the distributed plan below)
    "q131_domain_rollup",
    "q132_domain_holdout",
    "q133_c4_filters",
    "q135_bloom_gate",
    "q136_fim_split",
    # round-7 additions
    "q137_blocklist_gate",
    "q138_hybrid_rrf",
    "q140_budget_select",
    # round-12 additions (q89's one Lloyd round is in-plan — the only
    # driver-side work in its builder is a .first() for the dim)
    "q89_pq_ann_topk",
    "q151_quantile_sketch",
]


def _executed_plan(spark, sf_dir, name):
    """``name``'s executed plan string, read inside ``owned()`` so a
    frame the builder keeps is released once the plan is read. q134's
    is its distributed plan (a held-row bound of 0)."""
    with pytest.MonkeyPatch.context() as mp, owned():
        if name == "q134_phrase_search":
            mp.setattr(retrieval, "_HELD_ROWS_MAX", 0)
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()


PLANNED = [*PLANNABLE, "q134_phrase_search"]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: _executed_plan(spark, sf_dir, name) for name in PLANNED}


@pytest.mark.parametrize("name", PLANNED)
def test_no_cartesian_product(name, plans):
    assert "CartesianProduct" not in plans[name]


@pytest.mark.parametrize("name", PLANNED)
def test_no_single_partition_data_window(name, plans):
    """A window over SinglePartition means all data on one reducer —
    the scale-killer operators/topk.py exists to avoid."""
    assert not re.search(r"Window .*, SinglePartition", plans[name])


# (exchanges, broadcast joins, sort-merge joins) in each query's
# sf0.001 executed plan, counted by perfbench.probe.plan_digest: the
# optimized shapes the round-13/14 work settled on. A moved count is a
# plan change to explain in the commit that moves it.
#
# q134 (13, 8, 1) -> (11, 9, 0) and q151 (8, 2, 0) -> (6, 2, 0): the
# constant tables became LocalRelations (io.local_frame), which carry
# exact size statistics where a parallelize-fed LogicalRDD reported
# spark.sql.defaultSizeInBytes. In q134 the checkpointed query-term
# postings inherit that estimate, so at this scale the positional
# verify join now broadcasts them instead of shuffling both sides
# (two exchanges fewer). In q151 each mode's percents cross join now
# broadcasts the percents table instead of the summary frame, so the
# (group, p) rank window reuses the summary's group partitioning (one
# exchange fewer per mode).
#
# q134 (11, 9, 0) -> (4, 5, 0), pinned on the distributed plan
# (a held-row bound of 0): the query side is prepared on the driver. The
# per-term df aggregation and the anchor-choice window, each planned
# once per consumer of the three that read them, and the phrase-length
# aggregation left the plan (7 exchanges), and with them the three df
# left joins and the join of the anchor table onto the other offsets
# (4 broadcast joins). The four exchanges left are the occurrence
# count's. The kept stream (an InMemoryRelation where the checkpoint
# was a LogicalRDD) moves no count: its cached plan has no exchange.
DIGEST_PINS = {
    "q89_pq_ann_topk": (8, 2, 0),
    "q96_line_dedup": (5, 1, 0),
    "q114_knn_classify": (2, 1, 0),
    "q117_bm25_search": (7, 3, 0),
    "q124_repetition_profile": (1, 0, 0),
    "q127_winnow_pairs": (1, 1, 0),
    "q133_c4_filters": (1, 0, 0),
    "q134_phrase_search": (4, 5, 0),
    "q138_hybrid_rrf": (8, 4, 0),
    "q151_quantile_sketch": (6, 2, 0),
}


@pytest.mark.parametrize("name", sorted(DIGEST_PINS))
def test_plan_digest_pins(name, spark, sf_dir):
    # built on a cleared cache: a frame another test left persisted
    # would replace a subtree (and its exchanges) with a cached scan
    spark.catalog.clearCache()
    plan = _executed_plan(spark, sf_dir, name)
    d = plan_digest(plan)
    got = (d["plan.exchanges"], d["plan.broadcast_joins"], d["plan.sort_merge_joins"])
    assert got == DIGEST_PINS[name], plan


def test_small_dims_broadcast(plans):
    # nation/customer dimension joins must not shuffle the fact side
    assert "BroadcastHashJoin" in plans["q02_revenue_by_nation"]
    assert "BroadcastHashJoin" in plans["q03_top_orders"]


def test_budget_select_reuses_one_source_exchange(plans):
    # window(partitionBy source) -> groupBy(source) must share ONE
    # hash exchange — the partitioning-reuse rule the README states
    p = plans["q140_budget_select"]
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_blocklist_gate_broadcasts_and_never_shuffles_corpus(plans):
    # the blocklist side broadcasts; the corpus side must see no
    # shuffle (per-row PSL map + broadcast join). The ONE permitted
    # hash exchange is the blocklist's own per-domain dedup (r7: a
    # multi-category UT1 domain must not fan documents out) — a
    # blocklist-sized reduce, not a corpus shuffle.
    p = plans["q137_blocklist_gate"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_filter_pushdown_reaches_parquet(plans):
    for name in ("q02_revenue_by_nation", "q03_top_orders"):
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plans[name])
        assert any(p.strip() for p in pushed), f"{name}: no pushed filters"


def test_topk_is_take_ordered(plans):
    # orderBy+limit must compile to distributed TakeOrderedAndProject,
    # not a global sort
    assert "TakeOrderedAndProject" in plans["q03_top_orders"]


def test_aggregations_have_partial_phase(plans):
    # map-side combine before the shuffle (partial_sum / partial_count)
    for name in ("q01_pricing_summary", "q12_events_hourly"):
        assert "partial_" in plans[name], f"{name}: no partial aggregation"


def test_exact_dedup_single_shuffle(plans):
    # one hash shuffle on the fingerprint; AQE may append reads but no
    # second hashpartitioning exchange is acceptable
    n = plans["q18_exact_dedup"].count("Exchange hashpartitioning")
    assert n <= 1, f"exact dedup shuffled {n} times"


def test_contamination_aggregates_partial(plans):
    # the per-test-doc hit count must combine map-side before shuffling
    assert "partial_" in plans["q86_contamination_check"]


def test_canonical_window_is_partitioned(plans):
    # the per-cluster top-1 window keys on the cluster column — never
    # a global sort
    assert not re.search(
        r"Window .*, SinglePartition", plans["q87_canonical_docs"]
    )
    # and the rank filter must prune per map partition before the
    # exchange (regressed once: a count-over-partition window between
    # filter and rank silently blocked this)
    assert "WindowGroupLimit" in plans["q87_canonical_docs"]


def test_mixture_targets_join_broadcasts(spark, sf_dir):
    """mixture_sample's apportionment runs single-partition over the
    dictionary-sized count frame (by design); what must NOT happen is
    the DATA shuffling to meet the tiny target table — the targets
    join has to broadcast, and the per-stratum rank window must be
    partitioned."""
    plan = (
        Q.REGISTRY["q88_mixture_sample"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # exactly the windows we expect: every SinglePartition window sits
    # on the counts frame (input = an aggregate of <= #strata rows),
    # recognizable because the data-side rank window partitions by lang
    assert re.search(r"Window \[row_number\(\).*partitionBy=\[lang", plan) or (
        "hashpartitioning(lang" in plan
    )


def test_dsir_selection_is_take_ordered(plans):
    # top-k selection must be distributed TakeOrderedAndProject
    assert "TakeOrderedAndProject" in plans["q99_dsir_select"]


def test_dsir_llr_join_broadcasts(plans):
    # the n_buckets-row llr table is constant-size at any corpus
    # scale and must broadcast onto the token stream
    assert "BroadcastHashJoin" in plans["q99_dsir_select"]


def test_span_windows_are_per_document(plans):
    # both the gram window and the island window partition by doc
    assert re.search(r"Window .*_id_", plans["q97_duplicated_spans"])


def test_weighted_sample_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["q105_weighted_sample"]


def test_snapshot_diff_single_cokeyed_join(plans):
    # exactly one shuffling full-outer join on the id (cartesian and
    # single-partition-window regressions are covered for all
    # PLANNABLE queries by the parameterized tests above)
    assert len(re.findall(r"SortMergeJoin .*FullOuter",
                          plans["q107_snapshot_diff"])) == 1


def test_bm25_topk_is_group_limited_and_df_broadcast(plans):
    # the per-query rank window must prune with WindowGroupLimit (a
    # full per-query sort of all matched docs would not survive a
    # popular term at corpus scale), and the query-term df frame must
    # broadcast onto the postings — never shuffle them
    p = plans["q117_bm25_search"]
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_per_row_maps_have_no_exchange(plans):
    # the round-5 per-row signal/hygiene/extraction queries are pure
    # maps: ANY exchange in their plans is a regression (a shuffle
    # where a 100 TB scan needs none)
    for name in (
        "q125_unicode_hygiene",
        "q126_html_strip",
        "q128_json_props",
        "q129_url_parse",
        "q130_script_profile",
    ):
        assert "Exchange" not in plans[name], name
    # q124's O(G log G) gram fold is compute-bound per row, so it
    # spreads an unsplittable scan (io.spread_narrow_scan — r13):
    # exactly ONE round-robin rebalance is allowed, and still no
    # keyed shuffle (at production row-group counts the rebalance is
    # a conditional no-op — pinned in test_io's spread tests)
    p = plans["q124_repetition_profile"]
    assert "Exchange hashpartitioning" not in p
    assert p.count("Exchange RoundRobinPartitioning") <= 1


def test_winnow_pairs_cokeyed_join_partial_agg(plans):
    # the pair count must combine map-side before its shuffle, and the
    # self-join must be an equi-join on the fingerprint (cartesian
    # covered parameterized). At sf0.001 Catalyst legitimately
    # broadcasts the tiny exploded side on size stats — at corpus
    # scale the same equi-join shuffles co-keyed; what we pin here is
    # that there is a hash-equi join to pick the strategy FOR, plus
    # the partial aggregation.
    p = plans["q127_winnow_pairs"]
    assert "partial_count" in p
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[_wfp_", p)


def test_phrase_search_is_anchored_broadcast(plans):
    # q134's rarest-anchored distributed plan: the query-token and
    # phrase-length frames broadcast onto the positional postings (never
    # shuffle them), the top-k rank window prunes with WindowGroupLimit, and
    # there is no m-way positional join chain — the only join allowed
    # to shuffle is the single positional VERIFY join on
    # (_id_, _w_, _pos_) (corpus vs corpus; r8 rarest-term anchoring)
    p = plans["q134_phrase_search"]
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    smjs = [ln for ln in p.splitlines() if "SortMergeJoin" in ln]
    assert all(
        re.search(r"SortMergeJoin \[_id_#\d+L?, _w_#\d+, _pos_#\d+", ln)
        for ln in smjs
    ), smjs


def test_bloom_bitmap_broadcasts_to_probe(plans):
    # q135: the constant-size word frame must broadcast onto the probe
    # keys; the corpus-sized side is never exchanged for the join
    # (its only exchanges are the bitmap/membership aggregations)
    p = plans["q135_bloom_gate"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_c4_and_fim_are_pure_maps(plans):
    # line-level C4 cleanup and the FIM rewrite are narrow per-row
    # maps: any KEYED exchange is a regression. q133's HOF chain is
    # compute-bound per row, so it spreads an unsplittable scan
    # (io.spread_narrow_scan — r13): one round-robin rebalance
    # allowed there, conditional no-op at production row-group counts.
    assert "Exchange" not in plans["q136_fim_split"]
    p = plans["q133_c4_filters"]
    assert "Exchange hashpartitioning" not in p
    assert p.count("Exchange RoundRobinPartitioning") <= 1


def test_line_dedup_banded_shuffle_count(plans):
    """q96 (the line_dedup bench extra): the load-bearing shape is
    exactly three banded shuffles — (hash, id) distinct-ify, hash
    frequency count, id regroup — with the frequency table
    BROADCAST back onto the lines (never a corpus-vs-corpus sort-merge
    join). A fourth exchange or an SMJ means a refactor silently
    degraded the 100 TB plan (VERDICT r11 task 5)."""
    p = plans["q96_line_dedup"]
    assert p.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_pq_ann_scan_joins_all_broadcast(plans):
    """q89 (the pq_ann bench extra): every join in the PQ path is
    against a dictionary-sized frame (codebook m*ksub rows, ADC LUT
    queries*m*ksub rows) and must BROADCAST — a SortMergeJoin
    anywhere means a constant-size frame started shuffling the
    codes/points side, the exact scan-cost story PQ exists for. The
    codes side's only exchanges are its aggregations/windows."""
    p = plans["q89_pq_ann_topk"]
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # the final rank window keys on query_id (SinglePartition data
    # windows are covered parameterized; this pins the partition KEY)
    assert re.search(r"Window \[row_number\(\).*query_id", p)


def test_quantile_sketch_one_data_shuffle_per_mode(plans):
    """q151 (two modes unioned): per mode, the DATA shuffles exactly
    once — by (group, shard) for the build — and both build windows
    plus the kept-row gap window REUSE that partitioning. Every other
    exchange runs on the constant-size summary frame. A third
    `_shard_` exchange means a gap-weight window stopped sharing its
    build's partitioning; more than eight total means a summary
    window stopped being summary-sized."""
    p = plans["q151_quantile_sketch"]
    shard_exchanges = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "_shard_" in ln
    ]
    assert len(shard_exchanges) == 2, shard_exchanges  # one per mode
    assert p.count("Exchange hashpartitioning") <= 8
    assert "SortMergeJoin" not in p


def test_quantile_sketch_weighted_build_two_exchange_shape(spark, sf_dir):
    """r13: the WEIGHTED build's plan is exactly two data exchanges —
    the (keys, shard, value) pre-aggregation groupBy (whose map-side
    partial agg is what absorbs a hot (group, value) pair — the
    flat-at-10x probe result in PLANS.md round-13) and the
    (keys, shard) compression window. A third exchange means the
    compression stopped reusing the pre-agg's output or a window went
    data-sized; a SinglePartition window is the scale-killer."""
    from pyspark.sql import functions as F

    from demy_spark.io import load_tables
    from demy_spark.operators.sketches import quantile_sketch_build

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("v"),
        (1 + F.col("l_linenumber")).cast("long").alias("w"),
    )
    sk = quantile_sketch_build(
        li, "v", ["l_returnflag"], shards=4, capacity=16, weight_col="w"
    )
    p = sk._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 2, p
    assert not re.search(r"Window .*, SinglePartition", p)
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
