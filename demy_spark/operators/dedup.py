"""Deduplication operators for large-scale corpus curation.

The reference deduplicates only by key (latest-wins merges); a training
-data pipeline needs content dedup at 100 TB. Four strategies, all pure
DataFrame plans (no Python in the hot path):

- ``exact_dedup``          md5 of normalized text → hash groupBy.
- ``minhash_lsh_dedup``    k-word shingles → minhash signature →
                           LSH band buckets → candidate pairs →
                           exact-Jaccard verify. The scale path: cost is
                           O(docs × signature) + bucket-local joins, no
                           all-pairs comparison anywhere.
- ``simhash_dedup``        60-bit SimHash + Charikar chunk blocking →
                           Hamming-distance verify.
- ``ngram_jaccard_pairs``  exact word-shingle Jaccard over blocked pairs.

All near-dup operators return candidate PAIRS (doc_a < doc_b with their
similarity); ``assign_clusters`` turns pairs into duplicate-cluster ids
via iterative min-id propagation (bounded-iteration connected
components — each iteration is one join+agg, no driver-side graph).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demy_spark.functions.textstats import (
    fingerprint,
    norm_tokens,
    rolling_hash_shingles,
)
from demy_spark.session import aqe_disabled, keep, owned


def _md5_long(s: Column, start: int, length: int = 15) -> Column:
    """Uniform hash from a hex slice of md5(s), as a non-negative long.

    md5 instead of xxhash64 because BOTH engines of the correctness
    gate compute it identically — DuckDB parses the same hex slice via
    ``('0x' || substring(md5(x), start, len))::BIGINT`` — so oracles
    can reproduce every downstream minhash/simhash bit. 15 hex chars =
    60 bits (no ANSI long overflow anywhere downstream); disjoint
    slices of one digest give independent hash functions."""
    return F.conv(F.substring(F.md5(s), start, length), 16, 10).cast("long")


def _shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int, *, with_h2: bool = False
) -> DataFrame:
    """k-word shingle hashes as (_id_, _s_) ROWS (60-bit md5-derived;
    ``with_h2`` adds an independent 31-bit ``_h2_`` from a second md5
    slice for double-hashing schemes).

    Row formulation instead of the array-valued ``rolling_hash_shingles``
    because Spark's higher-order functions are interpreted per element —
    at bulk-dedup volumes that is ~50ms/doc of expression-tree walking.
    Here: split → posexplode → window ``lead`` rebuilds each shingle →
    md5, all whole-stage codegen. The explicit repartition count
    defeats AQE's small-data coalescing (the stage is compute-bound,
    not byte-bound) and the window + downstream groupBys reuse the same
    hash partitioning, so the whole dedup pipeline shuffles the corpus
    exactly once."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # single-space split (textstats.norm_tokens contract), NOT \s+:
    # the dedup oracles tokenize with string_split(trim(lower), ' '),
    # and shingle hashes must match bit-for-bit on ANY input
    toks = norm_tokens(F.col(text_col))
    t = (
        df.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("_id_"), F.posexplode(toks).alias("_pos_", "_w_"))
    )
    w = Window.partitionBy("_id_").orderBy("_pos_")
    parts = [F.col("_w_")] + [F.lead("_w_", j).over(w) for j in range(1, k)]
    shingle = F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts))
    # digest materialized once so the two hex slices don't each pay md5
    digest = t.select("_id_", F.md5(shingle).alias("_md5_"))
    hex_long = lambda start, length: F.conv(  # noqa: E731
        F.substring(F.col("_md5_"), start, length), 16, 10
    ).cast("long")
    cols = ["_id_", hex_long(1, 15).alias("_s_")]
    if with_h2:
        cols.append(
            hex_long(16, 8).bitwiseAND(F.lit(0x7FFFFFFF).cast("long")).alias("_h2_")
        )
    # NOT deduped: min-aggregates downstream are duplicate-insensitive,
    # and set-consumers dedup inside their own agg (collect_set) —
    # skipping the distinct here removes a blocking aggregation
    return digest.select(*cols).where(F.col("_s_").isNotNull())


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Drop exact (normalized) duplicates, keeping the ``keep`` id per
    fingerprint group. One shuffle on the 128-bit fingerprint."""
    fp = fingerprint(F.col(text_col)).alias("_fp_")
    keep_fn = F.min if keep == "min" else F.max
    keepers = (
        df.select(F.col(id_col), fp)
        .groupBy("_fp_")
        .agg(keep_fn(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def minhash_signature(shingle_hashes: Column | str, num_hashes: int = 128) -> Column:
    """MinHash signature as array<bigint> from a PRECOMPUTED shingle-hash
    array (see ``rolling_hash_shingles``): for each seed i, min over
    shingle hashes s of xxhash64(i, s).

    Per-row convenience form. Higher-order functions are interpreted
    (not codegen'd) in Spark, so for bulk dedup use
    ``minhash_lsh_dedup``, whose explode→groupBy-min formulation stays
    inside whole-stage codegen with map-side partial aggregation."""
    sh = F.col(shingle_hashes) if isinstance(shingle_hashes, str) else shingle_hashes
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(i, s))),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    bands=32 × rows=4 over 128 hashes ⇒ collision prob ≈
    1-(1-j^4)^32 — steep around j≈0.7. Candidates from band-bucket
    self-join are verified with EXACT shingle-set Jaccard, so the
    output has no false positives; banding only bounds recall.

    Plan shape (scale path): shingle once → explode → broadcast the
    seed range and min per (doc, seed) — a narrow codegen'd agg with
    map-side partial aggregation (the shuffle carries ≤ num_hashes
    longs per doc, not the shingle sets) → band slot-arrays as join
    keys → bucket self-join → verify jaccard by joining shingle sets
    back only for candidate pairs.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    banded, base = _minhash_bands(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        persist=True,
    )

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band_") == F.col("b._band_"))
            & (F.col("a._key_") == F.col("b._key_"))
            & (F.col("a._id_") < F.col("b._id_")),
        )
        .select(F.col("a._id_").alias("doc_a"), F.col("b._id_").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(cand, base, base, jaccard_threshold)


def _minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The shared MinHash signature pipeline: returns (banded, base)
    where ``banded`` = (_id_, _band_, _key_) and ``base`` = (_id_,
    _sh_) distinct shingle sets for exact-Jaccard verification.

    ``persist=True`` additionally caches ``banded`` — right for
    ``minhash_lsh_dedup``, whose bucket SELF-join reads ``banded``
    once per side, and for ``minhash_probe(include_intra_batch=True)``,
    whose self-join + second verify would otherwise re-run the whole
    signature pipeline 4-5x per epoch.

    ``persist=False`` (r14) still shares the SHINGLE-HASH rows:
    ``banded`` and ``base`` both derive from ``sh_rows``, and every
    caller consumes both frames (``minhash_index`` returns both; the
    probe joins bands for candidates and shingles for verification),
    so without sharing, the tokenize + shingle-md5 pipeline — the
    corpus-sized work — ran once PER FRAME (measured r14: q101's plan
    carried 8 parquet scans of `documents`). The share is a plain
    ``persist`` of the narrow (id, hash, h2) rows — a same-session
    3-arm A/B (scripts/probe_ckpt_ab_r14.py as of commit 49a9b30,
    calib 0.070) measured it
    fastest (persist 2.245 s vs rescan 2.508 vs lazy localCheckpoint
    2.697 on the q101 probe: the columnar cache write is cheaper than
    RDD checkpoint blocks and kills the duplicate hashing either way).
    Owner of both caches: ``session.owned``.
    """
    rows_per_band = num_hashes // bands
    sh_rows = keep(_shingle_rows(df, text_col, id_col, shingle_k, with_h2=True))
    # shingle sets per doc, for exact-jaccard verification of candidates
    # (groupBy reuses sh_rows' partitioning — no extra shuffle)
    base = sh_rows.groupBy("_id_").agg(F.collect_set("_s_").alias("_sh_"))

    # Kirsch-Mitzenmacher double hashing: two md5-slice hashes per
    # shingle, the num_hashes family derived as h1 + (2i+1)*h2 — one
    # multiply-add per (shingle, seed) instead of num_hashes real
    # hashes. h1 is 60 bits and h2 31 bits, so h1 + 255*h2 < 2^61 —
    # ANSI mode cannot overflow. Both slices are SQL-reproducible
    # (see _md5_long), so the DuckDB oracle recomputes the exact band
    # buckets.
    hashed = sh_rows.select("_id_", F.col("_s_").alias("_h1_"), "_h2_")
    # Exact pre-reduction: every signature slot is min(h1 + c·h2) with
    # c > 0, so only PARETO-MINIMAL (h1, h2) points of a doc can attain
    # any slot's min (a dominated point loses for every positive c).
    # For ~random hashes the pareto set of n shingles is O(ln n) —
    # ~10× fewer rows reaching the 128-slot aggregate, which is the
    # pipeline's one interpreted (too wide for codegen) operator. The
    # window reuses the doc-keyed partitioning — no extra shuffle.
    wp = (
        Window.partitionBy("_id_")
        .orderBy(F.col("_h1_").asc(), F.col("_h2_").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pareto = hashed.withColumn("_pm_", F.min("_h2_").over(wp)).where(
        F.col("_pm_").isNull() | (F.col("_h2_") < F.col("_pm_"))
    )
    # Signature as NARROW rows, not a num_hashes-wide aggregate: a
    # num_hashes-column HashAggregate falls out of whole-stage codegen
    # (>100 buffer fields) and runs interpreted — measured 5× slower
    # than this shape at sf0.1. Instead broadcast-join the seed range,
    # min per (doc, seed) — a 3-column codegen'd agg with map-side
    # partial aggregation — then fold each band's slots into a sorted
    # (seed, slot) array that IS the band key: collision-free, no hash
    # combiner, trivially SQL-reproducible (the oracle joins on the
    # same slot lists).
    seeds = df.sparkSession.range(num_hashes).select(F.col("id").alias("_i_"))
    slots = (
        pareto.join(F.broadcast(seeds))
        .groupBy("_id_", "_i_")
        .agg(
            F.min(
                F.col("_h1_") + (2 * F.col("_i_") + 1) * F.col("_h2_")
            ).alias("_slot_")
        )
    )
    # persist=True: the dedup bucket self-join would otherwise
    # re-execute the whole signature pipeline once per join side
    # (band rows are a few longs per doc — far smaller than the
    # shingle sets)
    banded = slots.groupBy(
        "_id_", (F.col("_i_") / rows_per_band).cast("int").alias("_band_")
    ).agg(F.sort_array(F.collect_list(F.struct("_i_", "_slot_"))).alias("_key_"))
    if persist:
        banded = keep(banded)
    return banded, base


def _jaccard_verify(
    cand: DataFrame, base_a: DataFrame, base_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate (doc_a, doc_b) pairs —
    shingle sets join back ONLY for candidates."""
    pairs = (
        cand.join(
            base_a.select(F.col("_id_").alias("doc_a"), F.col("_sh_").alias("_sha_")),
            "doc_a",
        )
        .join(
            base_b.select(F.col("_id_").alias("doc_b"), F.col("_sh_").alias("_shb_")),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("_sha_", "_shb_")).cast("double")
    union = F.size(F.array_union("_sha_", "_shb_")).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Materialize a reusable MinHash LSH index over a corpus:
    returns ``(bands, shingles)`` with public columns —
    bands = (``id_col``, band, key), shingles = (``id_col``, shingles).

    This is the incremental-dedup shape a production pipeline needs:
    the 100 TB corpus is signed ONCE, both frames written to parquet
    (a few longs per doc per band — orders of magnitude smaller than
    the text), and every new batch probes against the stored index via
    ``minhash_probe`` without ever re-reading the corpus text. Probe
    parameters must match the index build's (same hash family, same
    banding), which is why both halves live next to each other here.
    """
    banded, base = _minhash_bands(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
    )
    return (
        banded.select(
            F.col("_id_").alias(id_col),
            F.col("_band_").alias("band"),
            F.col("_key_").alias("key"),
        ),
        base.select(F.col("_id_").alias(id_col), F.col("_sh_").alias("shingles")),
    )


def minhash_probe(
    index_bands: DataFrame,
    index_shingles: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    include_intra_batch: bool = False,
) -> DataFrame:
    """Probe a new batch of documents against a stored MinHash index
    (``minhash_index`` output, typically read back from parquet).
    Returns (batch_id, index_id, jaccard) — every batch document
    near-duplicate to an already-indexed document.

    By default only BATCH-vs-INDEX pairs are reported: two near-
    duplicate documents arriving in the SAME batch both pass a gate
    built on this output. For gate use-cases set
    ``include_intra_batch=True`` — the batch's own band table is
    additionally self-joined (O(batch²) worst case, but band-blocked
    like everything else) and intra-batch pairs are emitted as
    (batch_id=higher id, index_id=lower id), so a keep-lowest-id gate
    admits exactly one of each intra-batch clone group. Alternatively,
    fold accepted batch docs back into the index between epochs.

    Scale shape: the batch is signed with the identical hash family,
    then joined to the index co-keyed on (band, key) — an equi-join
    between band tables, NOT a self-join over the union, so the
    incremental cost is O(batch) + bucket collisions, independent of
    corpus size. Exact-Jaccard verification joins the stored shingle
    sets back only for candidate pairs.
    """
    # the intra-batch branch adds a second consumer of both frames
    # (self-join + second verify) — persist so the signature pipeline
    # runs once, not 4-5x, per batch/epoch
    b_banded, b_base = _minhash_bands(
        batch,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        persist=include_intra_batch,
    )
    ib = index_bands.select(
        F.col(id_col).alias("_iid_"),
        F.col("band").alias("_band_"),
        F.col("key").alias("_key_"),
    )
    cand = (
        b_banded.join(ib, ["_band_", "_key_"])
        # a batch doc can also collide with itself if it was already
        # indexed — the caller decides identity; we only exclude exact
        # id equality
        .where(F.col("_id_") != F.col("_iid_"))
        .select(F.col("_id_").alias("doc_a"), F.col("_iid_").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    i_base = index_shingles.select(
        F.col(id_col).alias("_id_"), F.col("shingles").alias("_sh_")
    )
    out = _jaccard_verify(cand, b_base, i_base, jaccard_threshold).select(
        F.col("doc_a").alias("batch_id"),
        F.col("doc_b").alias("index_id"),
        "jaccard",
    )
    if include_intra_batch:
        bb = b_banded.select(
            F.col("_id_").alias("_iid_"), "_band_", "_key_"
        )
        intra_cand = (
            b_banded.join(bb, ["_band_", "_key_"])
            # higher id probes lower id — keep-lowest-id gate semantics
            .where(F.col("_id_") > F.col("_iid_"))
            .select(F.col("_id_").alias("doc_a"), F.col("_iid_").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"])
        )
        out = out.unionAll(
            _jaccard_verify(intra_cand, b_base, b_base, jaccard_threshold).select(
                F.col("doc_a").alias("batch_id"),
                F.col("doc_b").alias("index_id"),
                "jaccard",
            )
        )
    return out


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens: per bit, sign of the sum
    of ±1 votes from each token's xxhash64. Returns bigint.

    Per-row convenience form (64 interpreted ``F.aggregate`` passes over
    the token array) — fine for small inputs; bulk dedup goes through
    ``simhash_dedup``'s explode→groupBy formulation instead."""
    toks = F.transform(norm_tokens(text), F.xxhash64)

    def bit_vote(i: int) -> Column:
        # NB: pyspark counts lambda parameters to bind lambda variables,
        # so the bit index must be captured by closure, not default arg
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, i).bitwiseAND(F.lit(1).cast("long")) * 2 - 1),
        )

    out = F.lit(0).cast("long")
    for i in range(64):
        out = out.bitwiseOR(
            # shiftleft instead of lit(1 << i): bit 63 overflows a Java long
            F.when(
                bit_vote(i) > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via SimHash + Charikar chunk blocking: two
    fingerprints within ``max_hamming`` ≤ 3 bits must agree on at least
    one of 4 15-bit chunks → block on (chunk_idx, chunk_value), verify
    with bit_count(xor). Returns (doc_a, doc_b, hamming).

    The fingerprint is 60-bit, from md5-slice token hashes (see
    ``_md5_long``: SQL-reproducible, so the DuckDB oracle recomputes
    the exact fingerprints, chunks, and hamming distances), computed
    by explode→groupBy: one hashed-token row stream, 60 codegen'd
    conditional-sum aggs (bit i vote = 2 × popcount_i − n_tokens),
    then one projection reassembles the sign bits into the bigint.
    Docs with zero tokens are dropped (they carry no signal; the
    per-row ``simhash64`` gives them hash 0)."""
    n_bits, chunk_bits = 60, 15
    # norm_tokens, NOT a \s+ split: the q27 oracle tokenizes with
    # string_split(trim(lower), ' ') — the two only agree on ANY input
    # under the single-space contract (same class as the round-3
    # subdoc divergence)
    toks = norm_tokens(F.col(text_col))
    ex = (
        # explicit count: beat AQE coalescing on a compute-bound stage;
        # hash AFTER the explode so it runs codegen'd per row, not as an
        # interpreted per-element lambda
        df.select(id_col, text_col)
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col).alias("_id_"), F.explode(toks).alias("_w_"))
        .select("_id_", _md5_long(F.col("_w_"), 1).alias("_h_"))
    )
    one = F.lit(1).cast("long")
    # SWAR-packed vote counters: 3 bit-counters per long in 21-bit
    # lanes → 20 sum aggs instead of 60, keeping the HashAggregate
    # inside whole-stage codegen (>100 buffer fields would fall out and
    # run interpreted — the same trap the minhash signature hit). Lane
    # headroom: max per-row addend < 2^42, so docs up to 2^20 tokens
    # cannot overflow a long or bleed across lanes.
    lanes = 3
    n_accs = n_bits // lanes  # 20

    def packed(j: int) -> Column:
        acc = F.shiftright("_h_", j * lanes).bitwiseAND(one)
        for lane in range(1, lanes):
            acc = acc + F.shiftleft(
                F.shiftright("_h_", j * lanes + lane).bitwiseAND(one), 21 * lane
            )
        return acc

    votes = ex.groupBy("_id_").agg(
        F.count(F.lit(1)).alias("_n_"),
        *[F.sum(packed(j)).alias(f"_a{j}_") for j in range(n_accs)],
    )
    lane_mask = F.lit((1 << 21) - 1).cast("long")
    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        ones_i = F.shiftright(f"_a{i // lanes}_", 21 * (i % lanes)).bitwiseAND(
            lane_mask
        )
        # majority vote: bit set iff 2*popcount_i > n_tokens
        sim = sim.bitwiseOR(
            F.when(ones_i * 2 > F.col("_n_"), F.shiftleft(one, i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    base = votes.select("_id_", sim.alias("_sim_"))
    # persisted: the chunk self-join below would otherwise re-execute
    # the whole fingerprint pipeline once per join side (chunk rows are
    # 3 longs per doc × 4)
    chunked = keep(
        base.select(
            "_id_",
            "_sim_",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("_sim_"), i * chunk_bits).bitwiseAND(
                            F.lit((1 << chunk_bits) - 1).cast("long")
                        )
                        for i in range(4)
                    ]
                )
            ).alias("_chunk_", "_ckey_"),
        )
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._chunk_") == F.col("b._chunk_"))
            & (F.col("a._ckey_") == F.col("b._ckey_"))
            & (F.col("a._id_") < F.col("b._id_")),
        )
        .select(
            F.col("a._id_").alias("doc_a"),
            F.col("b._id_").alias("doc_b"),
            F.col("a._sim_").alias("_sa_"),
            F.col("b._sim_").alias("_sb_"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("_sa_").bitwiseXOR(F.col("_sb_")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-shingle Jaccard over pairs blocked on their MINIMUM
    shingle hash (= MinHash with one hash function): any pair with
    Jaccard ≥ ~0.5 shares its min shingle with probability ≥ Jaccard.
    Returns (doc_a, doc_b, jaccard)."""
    # persisted: consumed twice by the self-join below
    base = keep(
        _shingle_rows(df, text_col, id_col, shingle_k)
        .groupBy("_id_")
        .agg(F.collect_set("_s_").alias("_sh_"), F.min("_s_").alias("_block_"))
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect("a._sh_", "b._sh_")).cast("double")
    union = F.size(F.array_union("a._sh_", "b._sh_")).cast("double")
    return (
        a.join(
            b,
            (F.col("a._block_") == F.col("b._block_"))
            & (F.col("a._id_") < F.col("b._id_")),
        )
        .select(
            F.col("a._id_").alias("doc_a"),
            F.col("b._id_").alias("doc_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.95,
    num_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs: random-hyperplane LSH bucket →
    exact cosine verify ≥ threshold. See operators/similarity.py for
    the plane construction."""
    from demy_spark.functions.vectors import cosine_similarity
    from demy_spark.operators.similarity import hyperplane_bucket

    # persisted: the bucket computation (num_planes interpreted
    # aggregate lambdas per row) is consumed twice by the self-join
    base = keep(
        df.select(
            F.col(id_col).alias("_id_"),
            F.col(vec_col).alias("_v_"),
        )
        .withColumn("_bucket_", hyperplane_bucket(F.col("_v_"), num_planes, seed))
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a._bucket_") == F.col("b._bucket_"))
            & (F.col("a._id_") < F.col("b._id_")),
        )
        .select(
            F.col("a._id_").alias("doc_a"),
            F.col("b._id_").alias("doc_b"),
            F.round(cosine_similarity("a._v_", "b._v_"), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def assign_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_iters: int = 5,
    *,
    broadcast_ids_max: int = 4_000_000,
) -> DataFrame:
    """Duplicate-cluster assignment from near-dup pairs: iterative
    min-id propagation (label = min(label of self, labels of
    neighbors)); converges in O(cluster diameter) joins — near-dup
    clusters are shallow in practice, so ``max_iters``=5 suffices.
    Returns (id, cluster_id).

    r14: this runs the pagerank iteration shape. The call is EAGER:
    each iteration's label frame is materialized by a synchronous
    localCheckpoint inside ``session.aqe_disabled`` (which states why
    and the cost); the persisted edge frame is released before
    returning (``session.owned``).

    ``broadcast_ids_max``: below this many ids (counted once — one
    job) the node-sized frames (labels, per-iteration neighbor minima)
    are broadcast-hinted onto the persisted edge frame — zero
    edge-frame exchanges per iteration (each checkpointed label frame
    is a LogicalRDD with no size statistics, so the planner cannot
    make that call itself — the pagerank broadcast_nodes_max
    rationale). Larger corpora fall back to the co-keyed shuffle join;
    pass 0 to force it. Results are identical on both paths
    (F.broadcast only hints a strategy)."""
    with aqe_disabled(pairs.sparkSession), owned():
        edges = keep(
            pairs.select(F.col("doc_a").alias("_x_"), F.col("doc_b").alias("_y_"))
            .unionByName(
                pairs.select(F.col("doc_b").alias("_x_"), F.col("doc_a").alias("_y_"))
            )
            .distinct()
        )
        labels = ids.select(
            F.col(id_col).alias("_x_"), F.col(id_col).alias("_lbl_")
        )
        small = labels.count() <= broadcast_ids_max

        def _node_sized(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        for _ in range(max_iters):
            neighbor_min = (
                edges.join(
                    _node_sized(labels.withColumnRenamed("_x_", "_y_")), "_y_"
                )
                .groupBy("_x_")
                .agg(F.min("_lbl_").alias("_nlbl_"))
            )
            labels = (
                labels.join(_node_sized(neighbor_min), "_x_", "left")
                .select(
                    "_x_",
                    F.least(
                        F.col("_lbl_"), F.coalesce("_nlbl_", F.col("_lbl_"))
                    ).alias("_lbl_"),
                )
                .localCheckpoint(eager=True)
            )
    return labels.select(
        F.col("_x_").alias(id_col), F.col("_lbl_").alias("cluster_id")
    )


def derived_n_lists(count: int, target_cluster_size: int = 2048) -> int:
    """Quantizer width that holds expected IVF cluster sizes flat:
    ceil(count / target_cluster_size), floored at 8. Used by
    ``semdedup`` when the caller does not pin ``n_lists``."""
    return max(8, -(-count // max(1, target_cluster_size)))


def semdedup(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    n_lists: int | None = None,
    train_iters: int = 3,
    tau: float = 0.95,
    target_cluster_size: int = 2048,
    pairwise: str = "blas",
) -> DataFrame:
    """Semantic deduplication (after SemDeDup, Abbas et al. 2023):
    cluster the embedding space with the deterministic IVF coarse
    quantizer (``similarity.ivf_build`` — seeded per ``id % n_lists``,
    fixed Lloyd rounds, SQL-reproducible), then within each cluster
    drop every vector whose cosine similarity to a LOWER-id cluster
    member reaches ``tau``. Returns one row per input vector:
    (``id_col``, ``cluster``, ``keep``). Ids must be NUMERIC (the
    quantizer seeds by ``id % n_lists``); the output carries the
    caller's exact id type.

    This is the missing rung between exact/minhash text dedup and
    ``embedding_cosine_pairs``: LSH blocking finds near-identical
    pairs, while SemDeDup's cluster-then-prune removes SEMANTIC
    redundancy at a tunable radius — the published recipe for
    pretraining-corpus thinning.

    Scale shape: the pairwise stage is confined within clusters
    (Σ c² work, the published algorithm's own bound). With
    ``n_lists=None`` (the default) the quantizer width is derived
    from the corpus itself — ``max(8, ceil(count /
    target_cluster_size))``, one count job — so expected cluster
    sizes stay flat at ANY corpus scale without caller care; pass an
    explicit ``n_lists`` only when the oracle/replay needs a pinned
    quantizer. The clustered frame is persisted so the self-join does
    not re-run assignment per side, and the dominated-id set reduces
    through a distinct BEFORE the final left-anti-style join.
    Centroids are the only driver state (n_lists × dim floats,
    ivf_build's contract).

    The domination test compares in integer micro-units —
    ``floor(cos * 1e6) >= round(tau * 1e6)`` — so a replay engine
    whose cosine differs by a few ulps (e.g. DuckDB
    ``list_cosine_similarity`` vs the dot/(|a||b|) fold here) makes
    the same keep decision everywhere except an exact micro-boundary.

    ``pairwise='blas'`` (default) runs the in-cluster stage as one
    Arrow-batched numpy matmul per cluster (the published SemDeDup
    recipe; measured 2.9 s → 2.0 s end-to-end at sf0.1 — the
    remainder is the quantizer's fixed per-Lloyd-round scheduling,
    which amortizes at real scale) — whole-cluster memory is the
    contract, c² doubles bounded by ``target_cluster_size``.
    ``pairwise='fold'`` keeps the pure-SQL dot-fold self-join: the
    bit-level oracle mirror and the path for clusters too large for
    dense scores.
    """
    from demy_spark.functions.vectors import dot, l2_norm
    from demy_spark.operators.similarity import ivf_build

    if n_lists is None:
        n_lists = derived_n_lists(corpus.count(), target_cluster_size)
    _, assigned = ivf_build(
        corpus, vec_col, id_col, n_lists=n_lists, train_iters=train_iters,
        own_persist=True,  # released early below once base is materialized
    )
    base = keep(
        corpus.select(
            F.col(id_col).alias("_id_"),
            F.col(vec_col).cast("array<double>").alias("_v_"),
        )
        # the per-vector norm is computed ONCE here, not per pair: the
        # pairwise stage then pays one dot-product fold per pair
        # instead of three (dot + both norms) — same doubles, the
        # sqrt(sum(x^2)) per vector is bit-identical either way
        .withColumn("_n_", l2_norm("_v_"))
        .join(
            assigned.select(
                F.col(id_col).alias("_id_"), F.col("cluster").alias("_c_")
            ),
            "_id_",
        )
    )
    # materialize base (its cache now carries the assignment), then
    # release ivf_build's cached assignment early: base is its only
    # consumer here
    base.count()
    assigned.unpersist()
    tau_micro = int(round(float(tau) * 1_000_000))
    if pairwise not in ("blas", "fold"):
        raise ValueError(f"pairwise must be 'blas' or 'fold', got {pairwise!r}")
    if pairwise == "blas":
        # the published SemDeDup shape: one dense matmul PER CLUSTER
        # (Arrow batch in, numpy out). Whole-cluster memory is the
        # contract — c×c scores, bounded by target_cluster_size²
        # doubles (~33 MB at the 2048 default), which is exactly what
        # the auto-derived n_lists holds flat. The fold path below is
        # the SQL-reproducible mirror (same quantized decisions away
        # from exact micro-boundaries; unit-tested to agree).
        import pandas as pd

        def _find_dominated(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            pdf = pdf.sort_values("_id_")
            ids = pdf["_id_"].to_numpy()
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v_"]])
            n = pdf["_n_"].to_numpy()
            safe = np.where(n > 0, n, 1.0)
            mn = np.where((n > 0)[:, None], m / safe[:, None], 0.0)
            q = np.floor(mn @ mn.T * 1_000_000)
            mask = np.triu(q >= tau_micro, k=1)  # only lower-id dominators
            return pd.DataFrame({"_id_": ids[mask.any(axis=0)]})

        # the output schema carries the CALLER'S id type (string
        # fingerprint ids are as valid as bigints — hardcoding 'long'
        # would crash the Arrow cast for them)
        id_type = base.schema["_id_"].dataType
        dominated = (
            base.select("_id_", "_v_", "_n_", "_c_")
            .groupby("_c_")
            .applyInPandas(
                _find_dominated, T.StructType([T.StructField("_id_", id_type)])
            )
            .withColumn("_rm_", F.lit(True))
        )
    else:
        a = base.select(
            F.col("_id_").alias("_ia_"),
            F.col("_v_").alias("_va_"),
            F.col("_n_").alias("_na_"),
            "_c_",
        )
        b = base.select(
            F.col("_id_").alias("_ib_"),
            F.col("_v_").alias("_vb_"),
            F.col("_n_").alias("_nb_"),
            "_c_",
        )
        cos = F.when(
            (F.col("_na_") > 0) & (F.col("_nb_") > 0),
            dot("_va_", "_vb_") / (F.col("_na_") * F.col("_nb_")),
        ).otherwise(F.lit(0.0))
        dominated = (
            a.join(b, "_c_")
            .where(F.col("_ia_") < F.col("_ib_"))
            .where(F.floor(cos * 1_000_000) >= F.lit(tau_micro))
            .select(F.col("_ib_").alias("_id_"))
            .distinct()
            .withColumn("_rm_", F.lit(True))
        )
    return base.join(dominated, "_id_", "left").select(
        F.col("_id_").alias(id_col),
        F.col("_c_").alias("cluster"),
        F.col("_rm_").isNull().alias("keep"),
    )
