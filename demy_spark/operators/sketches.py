"""Approximate sketches, hand-rolled so they are DETERMINISTIC and
bit-reproducible in plain SQL (the DuckDB correctness oracle recomputes
the same registers/buckets): HyperLogLog distinct counting, a count-min
sketch for heavy hitters, a mergeable equi-width histogram, a Bloom
membership gate, and a mergeable quantile summary (r12).

Spark's built-ins (``approx_count_distinct``, ``count_min_sketch``)
use engine-private hash seeds, so an external oracle can never verify
them value-for-value. These operators trade those for the md5-slice
hash family (operators/dedup.py:31) + Kirsch-Mitzenmacher seed
derivation — the same estimates fall out of any engine that can md5.

Scale shape: the counting sketches are one narrow shuffle over the raw
keys followed by constant-size (m or d*w rows) frames; the estimate
math runs on the constant-size frame. At 100 TB the register/bucket
tables are still 256 / 4096 rows, and the quantile summary is
<= shards*(capacity+1) weighted rows per group.

No reference counterpart (the reference counts exactly,
e.g. feature/GroupBy.scala:10-117); this is a north-star extension.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.io import local_frame


def _md5_long(s: Column, start: int, length: int = 15) -> Column:
    """Same construction as operators/dedup._md5_long (md5 hex slice →
    non-negative long) so SQL oracles reproduce it exactly."""
    return F.conv(F.substring(F.md5(s), start, length), 16, 10).cast("long")


def hll_alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    key: str | Column,
    group_by: Sequence[str] = (),
    *,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group: m=2**p registers.

    hash = 60-bit md5 slice; bucket = low p bits; rho = leading-zero
    rank of the remaining 60-p bits. Registers aggregate as max(rho)
    (one shuffle, map-side partial max); the harmonic-mean estimate and
    the small-range linear-counting correction run over the m-row
    register frame. Empty registers contribute 2^0 each — accounted
    arithmetically (m - registers_present) instead of materializing a
    register grid.

    Returns one row per group: ``est_distinct`` (double, 2dp).
    """
    regs = hll_registers(df, key, group_by, p=p)
    return hll_estimate_from_registers(regs, group_by, p=p)


def hll_registers(
    df: DataFrame,
    key: str | Column,
    group_by: Sequence[str] = (),
    *,
    p: int = 8,
) -> DataFrame:
    """The HLL register frame (group cols, _bkt_, _r_): max(rho) per
    bucket. Max-mergeable — union register frames from shards (or
    micro-batches: this stage is a plain streaming-compatible
    aggregation) and re-max to combine sketches."""
    m = 1 << p
    bits = 60 - p
    gcols = list(group_by)
    k = F.col(key) if isinstance(key, str) else key
    h = _md5_long(k.cast("string"), 1, 15)
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits) - F.length(F.bin(w)) + 1
    )
    return (
        df.select(*gcols, (h.bitwiseAND(m - 1)).alias("_bkt_"), rho.alias("_rho_"))
        .groupBy(*gcols, "_bkt_")
        .agg(F.max("_rho_").alias("_r_"))
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_by: Sequence[str] = (),
    *,
    p: int = 8,
) -> DataFrame:
    """Harmonic-mean estimate + linear-counting correction over a
    register frame from ``hll_registers`` (constant-size per group)."""
    m = 1 << p
    gcols = list(group_by)
    alpha = hll_alpha(m)
    agg = regs.groupBy(*gcols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_r_"))).alias("_s_"),
        F.count(F.lit(1)).alias("_present_"),
    )
    s_total = F.col("_s_") + (m - F.col("_present_"))
    e_raw = F.lit(alpha * m * m) / s_total
    v = F.lit(m) - F.col("_present_")
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(e_raw)
    return agg.select(*gcols, F.round(est, 2).alias("est_distinct"))


def countmin_counters(
    df: DataFrame,
    key: str | Column,
    *,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """The count-min counter table (_i_, _bkt_, _c_): ``depth`` hash
    rows of ``width`` counters, Kirsch-Mitzenmacher seeds from two md5
    slices. SUM-mergeable — union counter tables from shards and
    re-sum, or build it as a plain streaming aggregation over raw
    events (weight 1 per row); ``weight_col`` feeds pre-aggregated
    (key, count) frames, which is how ``countmin_heavy_hitters``
    routes its exact tf frame through the same code path. Identical
    totals either way — sum is associative."""
    k = (F.col(key) if isinstance(key, str) else key).alias("_k_")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    ).alias("_w_")
    hashed = df.select(k, w).select(
        "_w_",
        _md5_long(F.col("_k_").cast("string"), 1, 15).alias("_h1_"),
        _md5_long(F.col("_k_").cast("string"), 16, 8)
        .bitwiseAND(0x7FFFFFFF)
        .alias("_h2_"),
    )
    return (
        hashed.select(
            "_w_",
            "_h1_",
            "_h2_",
            F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("_i_"),
        )
        .withColumn(
            "_bkt_",
            F.pmod(F.col("_h1_") + F.col("_i_") * F.col("_h2_"), F.lit(width)),
        )
        .groupBy("_i_", "_bkt_")
        .agg(F.sum("_w_").alias("_c_"))
    )


def countmin_heavy_hitters(
    df: DataFrame,
    key: str | Column,
    *,
    depth: int = 4,
    width: int = 1024,
    top_k: int = 20,
) -> DataFrame:
    """Heavy hitters via a count-min sketch: ``depth`` hash rows of
    ``width`` counters; a key's estimate is the MIN of its counters, an
    upper bound on its true frequency (collisions only inflate).

    Seeds derive Kirsch-Mitzenmacher style — g_i = (h1 + i*h2) mod
    width from two independent md5 slices — so one md5 per key serves
    every row of the sketch. Plan: exact per-key tf (one shuffle; the
    sketch-only path would skip this, but the keys are needed to NAME
    the heavy hitters), explode to d counter updates per key, aggregate
    the d*width counter table, broadcast-join it back to the keys, min
    over rows, global top-k. All integer arithmetic — the oracle
    reproduces every counter exactly.

    Returns ``top_k`` rows: key, est (sketch upper bound), tf (exact),
    overcount = est - tf.
    """
    k = (F.col(key) if isinstance(key, str) else key).alias("_k_")
    tf = df.select(k).groupBy("_k_").agg(F.count(F.lit(1)).alias("_tf_"))
    hashed = tf.select(
        "_k_",
        "_tf_",
        _md5_long(F.col("_k_").cast("string"), 1, 15).alias("_h1_"),
        _md5_long(F.col("_k_").cast("string"), 16, 8)
        .bitwiseAND(0x7FFFFFFF)
        .alias("_h2_"),
    )
    rows = (
        hashed.select(
            "_k_",
            "_tf_",
            "_h1_",
            "_h2_",
            F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("_i_"),
        )
        .withColumn(
            "_bkt_", F.pmod(F.col("_h1_") + F.col("_i_") * F.col("_h2_"), F.lit(width))
        )
        .drop("_h1_", "_h2_")
    )
    counters = countmin_counters(
        tf, "_k_", depth=depth, width=width, weight_col="_tf_"
    )
    est = (
        rows.join(F.broadcast(counters), on=["_i_", "_bkt_"])
        .groupBy("_k_", "_tf_")
        .agg(F.min("_c_").alias("_est_"))
    )
    return (
        est.orderBy(F.desc("_est_"), F.asc("_k_"))
        .limit(top_k)
        .select(
            F.col("_k_").alias("key"),
            F.col("_est_").alias("est"),
            F.col("_tf_").alias("tf"),
            (F.col("_est_") - F.col("_tf_")).alias("overcount"),
        )
    )


def hll_error_bound(p: int) -> float:
    """Standard error of the HLL estimate: 1.04 / sqrt(2**p)."""
    return 1.04 / math.sqrt(1 << p)


def equi_width_histogram(
    df: DataFrame,
    col: str,
    *,
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Fixed-bin histogram of a numeric column: one narrow aggregation
    to ≤ ``bins`` rows. Values outside [lo, hi) clamp into the edge
    bins. MERGEABLE (histograms from corpus shards union + re-sum) and
    engine-reproducible — bin edges come from literals, so any SQL
    engine recomputes identical bins, unlike sampling-based
    ``approx_percentile``.

    Bounds are caller-supplied by design: at 100 TB the [lo, hi) range
    is a domain contract (or a prior cheap min/max pass), not something
    to re-derive per run. Returns (bin, n)."""
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(col) - lo) / width).cast("long")
        ),
    )
    # NULLs must be excluded explicitly: greatest() SKIPS nulls, so an
    # unfiltered NULL value would silently clamp into bin 0
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame,
    qs: Sequence[float],
    *,
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Interpolated quantiles from an equi-width histogram: for each
    ``q``, the continuous rank r = q·N lands in the first bin whose
    cumulative count reaches it, and the value interpolates linearly
    inside that bin (uniform intra-bin assumption — the classic
    histogram quantile estimator; error ≤ one bin width).

    All windows here run on the constant-size histogram frame (≤ bins
    rows — the q34 single-partition precedent), never on data. The
    arithmetic is exact-integer cumulative counts plus literal-derived
    doubles, so the q90 oracle reproduces every output bit.

    Returns (q, qvalue, bin, n_total)."""
    spark = hist.sparkSession
    width = (hi - lo) / bins
    qdf = local_frame(spark, [(float(q),) for q in qs], "q double")
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = (
        hist.withColumn("_cum_", F.sum("n").over(w_cum))
        .withColumn("_cumb_", F.col("_cum_") - F.col("n"))
        .withColumn("_N_", F.sum("n").over(w_all))
    )
    r = F.col("q") * F.col("_N_")
    w_first = Window.partitionBy("q").orderBy("bin")
    return (
        qdf.crossJoin(c)
        .where(F.col("_cum_") >= r)
        .withColumn("_rk_", F.row_number().over(w_first))
        .where(F.col("_rk_") == 1)
        .select(
            "q",
            (
                F.lit(lo)
                + F.col("bin") * width
                + (r - F.col("_cumb_")) / F.col("n") * width
            ).alias("qvalue"),
            "bin",
            F.col("_N_").alias("n_total"),
        )
    )


def bloom_bitmap(
    df: DataFrame,
    key: str | Column,
    *,
    m_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """Distributed Bloom-filter build: the membership sketch behind
    cross-snapshot dedup gates (probe a new crawl batch against a
    corpus-sized key set without ever joining the corpus — the sketch
    path beside the exact incremental index of operators/dedup.py).

    Same md5-slice + Kirsch-Mitzenmacher derivation as
    ``countmin_heavy_hitters`` (g_i = (h1 + i*h2) mod m from two
    independent slices, one md5 per key), so the DuckDB oracle
    reproduces every set bit. The bitmap is a DataFrame of 32-bit
    words — ``(word, bits)`` with ``bits = bit_or(1 << (pos % 32))``
    — 32-bit so the word value stays positive in BOTH engines (a
    63-bit shift wraps the sign bit differently across SQL dialects).

    Scale shape: keys hash map-side, fan out n_hashes rows, and
    reduce by a map-side-combined ``bit_or`` to a CONSTANT-size frame
    (m/32 rows — 32k rows for the default 1 MiB of bits) regardless of
    corpus size; that frame broadcasts to any probe.
    """
    k = (F.col(key) if isinstance(key, str) else key).alias("_k_")
    hashed = df.select(k).select(
        _md5_long(F.col("_k_").cast("string"), 1, 15).alias("_h1_"),
        _md5_long(F.col("_k_").cast("string"), 16, 8)
        .bitwiseAND(0x7FFFFFFF)
        .alias("_h2_"),
    )
    pos = F.pmod(
        F.col("_h1_") + F.col("_i_") * F.col("_h2_"), F.lit(m_bits)
    )
    return (
        hashed.select(
            "_h1_",
            "_h2_",
            F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])).alias(
                "_i_"
            ),
        )
        .select(pos.alias("_pos_"))
        .select(
            (F.col("_pos_") / 32).cast("long").alias("word"),
            F.pmod(F.col("_pos_"), F.lit(32)).alias("_bit_"),
        )
        .groupBy("word")
        # shiftleft/shiftright take a PYTHON int in the DataFrame API;
        # a per-row shift amount needs the SQL form
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit_ AS INT))")
            ).alias("bits")
        )
    )


def bloom_probe(
    df: DataFrame,
    key: str | Column,
    bitmap: DataFrame,
    *,
    m_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """Membership test against a ``bloom_bitmap``: one row per
    DISTINCT probe key with ``maybe_member`` — true iff all
    ``n_hashes`` bit positions are set (no false negatives; false
    positives at the standard (1 - e^(-kn/m))^k rate, which the q135
    gate measures against an exact semi-join).

    The bitmap is constant-size and broadcast; probing is a narrow
    map + one broadcast join + a key-local ``bool_and`` — the corpus
    the bitmap was built from is never touched.
    """
    k = (F.col(key) if isinstance(key, str) else key).alias("_k_")
    hashed = df.select(k).distinct().select(
        "_k_",
        _md5_long(F.col("_k_").cast("string"), 1, 15).alias("_h1_"),
        _md5_long(F.col("_k_").cast("string"), 16, 8)
        .bitwiseAND(0x7FFFFFFF)
        .alias("_h2_"),
    )
    pos = F.pmod(
        F.col("_h1_") + F.col("_i_") * F.col("_h2_"), F.lit(m_bits)
    )
    probes = hashed.select(
        "_k_",
        F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])).alias("_i_"),
        "_h1_",
        "_h2_",
    ).select(
        "_k_",
        (pos / 32).cast("long").alias("word"),
        F.pmod(pos, F.lit(32)).alias("_bit_"),
    )
    hit = F.expr("(shiftright(bits, CAST(_bit_ AS INT)) & 1) = 1")
    return (
        probes.join(F.broadcast(bitmap), "word", "left")
        .select("_k_", F.coalesce(hit, F.lit(False)).alias("_hit_"))
        .groupBy("_k_")
        .agg(F.bool_and("_hit_").alias("maybe_member"))
        .select(F.col("_k_").alias("key"), "maybe_member")
    )


def _compress_summary(
    merged: DataFrame, part: Sequence[str], capacity: int
) -> DataFrame:
    """Re-compress a weighted summary — ``(part..., value, weight)``
    rows, distinct per (part..., value) — to <= capacity+1 rows per
    partition group: keep exactly the rows whose cumulative weight
    crosses a multiple of t = ceil(total/capacity), plus the group
    maximum (the p=100 anchor), then re-weight each kept row with the
    gap since the previous kept row so sum(weight) is conserved
    EXACTLY and every kept row's cumulative weight stays exact. When
    the group already fits ``capacity`` rows, every row is kept
    (lossless). Shared by the weighted build and the merge path; all
    windows run on summary-sized frames."""
    keys = list(part)
    w_val = Window.partitionBy(*keys).orderBy("value")
    w_all = Window.partitionBy(*keys)
    c = (
        merged.withColumn("_cw_", F.sum("weight").over(w_val))
        .withColumn("_n_", F.sum("weight").over(w_all))
        .withColumn("_k_", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "_t_",
            F.expr(f"CAST((_n_ + {capacity - 1}) DIV {capacity} AS BIGINT)"),
        )
    )
    keep = (
        (F.col("_k_") <= capacity)
        | (F.col("_cw_") == F.col("_n_"))  # group max: p=100 anchor
        | (F.expr("(_cw_ - weight) DIV _t_") < F.expr("_cw_ DIV _t_"))
    )
    kept = c.where(keep)
    return kept.select(
        *keys,
        "value",
        (
            F.col("_cw_")
            - F.coalesce(F.lag("_cw_").over(w_val), F.lit(0).cast("long"))
        ).alias("weight"),
    )


def quantile_sketch_build(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    *,
    shards: int = 16,
    capacity: int = 8192,
    shard_key: Sequence[str] | None = None,
    weight_col: str | None = None,
    shard_hash: str = "xxhash64",
) -> DataFrame:
    """MERGEABLE approximate-quantile summary (r12 — the one 100 TB
    profiling staple the sketch family lacked next to HLL/CMS/
    histogram/Bloom): per (group, shard), sort the values and keep
    every ``stride``-th one with the weight it represents — the
    classic sorted-sample collapse (Manku-Rajagopalan-Lindsay, SIGMOD
    '98 / the GK-family summary shape), expressed as ONE shuffle by
    (by, shard) + a window, all JVM-side.

    Returns a summary DataFrame ``(by..., value, weight)`` with
    sum(weight) == n EXACTLY per group: the kept value at sorted rank
    r carries the gap back to the previously kept rank (it represents
    ranks (r_prev, r]), so every kept row's CUMULATIVE weight is its
    exact rank, and the shard maximum is always kept (p=100 anchor).
    Rank error of a queried quantile is < stride = ceil(shard_n /
    capacity) per shard, i.e. < n_group / capacity overall — choose
    ``capacity >= max shard count`` and the summary is LOSSLESS
    (stride 1, every row kept at weight 1), which is what the q151
    oracle verifies value-for-value; at 100 TB the same code
    compresses to <= shards*(capacity+1) rows per group.

    DETERMINISTIC: the kept (value, weight) multiset depends only on
    each shard's sorted value multiset, never on row order (ties swap
    equal values). ``shard_key`` picks the hash-sharding columns (a
    row-unique key gives uniform shards — sharding is also the skew
    strategy: a hot group spreads over ``shards`` partitions);
    default is the value column itself. ``shard_hash="md5"`` swaps the
    engine-private xxhash64 for the md5-slice family the other
    sketches use, so an external SQL engine can replay the shard
    assignment and hence the ENTIRE compressed summary row-for-row —
    q151's "sketch64" mode oracle does exactly that (NULL key columns
    enter the hash as a chr(0) sentinel so distinct tuples never
    collide — replay with coalesce(CAST(c AS VARCHAR), chr(0)));
    keep the cheaper xxhash64 default when external replay isn't
    needed.

    ``weight_col`` (integer weights — token counts, pre-aggregated
    histogram counts) switches to the WEIGHTED build: duplicate values
    combine per shard first, then the same boundary-crossing
    compression the merge path uses keeps <= capacity+1 rows. All the
    invariants carry (sum(weight) == total mass exactly, max kept,
    cum weight exact at kept rows); lossless when each shard's
    DISTINCT-value count fits ``capacity``. The unweighted path keeps
    its cheaper single-shuffle row_number plan.

    No reference counterpart (the reference's metrics are exact,
    mllib tuning/BinaryOptimalEvaluator.scala:35-224); LLM-pipeline
    north-star extension like the other sketches."""
    keys = list(by)
    shard_cols = [F.col(c) for c in (shard_key or [col])]
    if shard_hash == "md5":
        # NULL shard-key columns map to a chr(0) sentinel BEFORE the
        # join: concat_ws silently skips NULLs, which would collide
        # distinct key tuples (a, NULL) / (a,) into one shard and
        # break the advertised row-for-row external replay for
        # nullable keys (ADVICE r12). Replay side:
        # coalesce(CAST(c AS VARCHAR), chr(0)). A real string value
        # equal to chr(0) would still collide — don't use chr(0) as
        # data in md5-replay shard keys.
        joined = F.concat_ws(
            "|",
            *[
                F.coalesce(c.cast("string"), F.lit("\x00"))
                for c in shard_cols
            ],
        )
        shard = F.pmod(_md5_long(joined, 1, 15), F.lit(shards)).alias(
            "_shard_"
        )
    elif shard_hash == "xxhash64":
        shard = F.pmod(F.xxhash64(*shard_cols), F.lit(shards)).alias(
            "_shard_"
        )
    else:
        raise ValueError(f"unknown shard_hash {shard_hash!r}")
    if weight_col is not None:
        merged = (
            df.where(
                F.col(col).isNotNull() & (F.col(weight_col) > 0)
            )
            .select(
                *keys,
                F.col(col).alias("value"),
                shard,
                F.col(weight_col).cast("long").alias("weight"),
            )
            .groupBy(*keys, "_shard_", "value")
            .agg(F.sum("weight").alias("weight"))
        )
        return _compress_summary(
            merged, keys + ["_shard_"], capacity
        ).select(*keys, "value", "weight")
    w = Window.partitionBy(*keys, "_shard_").orderBy("value")
    w_all = Window.partitionBy(*keys, "_shard_")
    s = F.expr(f"CAST((_cnt_ + {capacity - 1}) DIV {capacity} AS BIGINT)")
    kept = (
        df.where(F.col(col).isNotNull())
        .select(*keys, F.col(col).alias("value"), shard)
        .withColumn("_r_", F.row_number().over(w).cast("long"))
        .withColumn("_cnt_", F.count(F.lit(1)).over(w_all))
        .withColumn("_s_", s)
        .where(
            (F.pmod(F.col("_r_"), F.col("_s_")) == 0)
            | (F.col("_r_") == F.col("_cnt_"))
        )
    )
    w_kept = Window.partitionBy(*keys, "_shard_").orderBy("_r_")
    return kept.select(
        *keys,
        "value",
        (
            F.col("_r_")
            - F.coalesce(F.lag("_r_").over(w_kept), F.lit(0).cast("long"))
        ).alias("weight"),
    )


def quantile_sketch_merge(
    *sketches: DataFrame,
    by: Sequence[str] = (),
    capacity: int = 8192,
) -> DataFrame:
    """Merge quantile summaries from corpus shards / days / sources:
    union the ``(by..., value, weight)`` rows, combine duplicate
    values, and re-compress each group back under ``capacity`` rows
    by keeping exactly the rows whose cumulative weight crosses a
    multiple of t = ceil(total/capacity) (plus the group maximum, so
    p=100 never drifts). Re-weighting assigns each kept row the gap
    since the previous kept row, so sum(weight) stays EXACTLY n —
    merge never loses count mass, only value resolution (added rank
    error < t per merge level).

    When the combined group fits in ``capacity`` rows the merge is
    LOSSLESS (t's boundary-crossing test keeps every row), so
    merge-of-halves == build-of-whole — the associativity the unit
    tests pin. Windows run on summary-sized frames (<= inputs *
    capacity rows per group), never on data."""
    keys = list(by)
    un = sketches[0]
    for sk in sketches[1:]:
        un = un.unionByName(sk)
    merged = un.groupBy(*keys, "value").agg(F.sum("weight").alias("weight"))
    return _compress_summary(merged, keys, capacity)


def quantile_sketch_query(
    sk: DataFrame,
    percents: Sequence[int],
    by: Sequence[str] = (),
    *,
    denom: int = 100,
) -> DataFrame:
    """Discrete quantiles from a quantile summary: for integer
    ``p/denom``, the answer is the smallest value whose cumulative
    weight reaches ceil(p*n/denom) — ALL-INTEGER threshold arithmetic
    ((p*n + denom-1) DIV denom, no float rank), so on a lossless
    summary the result is exactly the nearest-rank discrete
    percentile, and any engine applying the same integer rule (the
    DuckDB oracle does, verbatim) reproduces it bit-for-bit — float-
    rank implementations can differ at exact p*n/denom boundaries,
    which is why the rule is pinned in integers on both sides.

    Windows and the percents cross-join run on the constant-size
    summary frame (<= shards*capacity rows per group — the q34/q90
    single-frame precedent), never on data. Returns
    ``(by..., p, q_value, n_rows)``."""
    keys = list(by)
    spark = sk.sparkSession
    pdf = local_frame(spark, [(int(p),) for p in percents], "p long")
    merged = sk.groupBy(*keys, "value").agg(F.sum("weight").alias("weight"))
    w_val = Window.partitionBy(*keys).orderBy("value")
    w_all = Window.partitionBy(*keys)
    c = merged.withColumn("_cw_", F.sum("weight").over(w_val)).withColumn(
        "_n_", F.sum("weight").over(w_all)
    )
    thresh = F.expr(
        f"(CAST(p AS BIGINT) * _n_ + {denom - 1}) DIV {denom}"
    )
    w_first = Window.partitionBy(*keys, "p").orderBy("value")
    return (
        pdf.crossJoin(c)
        .where(F.col("_cw_") >= thresh)
        .withColumn("_rk_", F.row_number().over(w_first))
        .where(F.col("_rk_") == 1)
        .select(
            *keys,
            "p",
            F.col("value").alias("q_value"),
            F.col("_n_").alias("n_rows"),
        )
    )


def quantile_sketch_query_cont(
    sk: DataFrame,
    percents: Sequence[int],
    by: Sequence[str] = (),
    *,
    denom: int = 100,
) -> DataFrame:
    """Continuous (linear-interpolated) quantiles from a quantile
    summary — the ``percentile_cont`` twin of
    ``quantile_sketch_query``: the continuous 0-indexed rank
    h = p*(n-1)/denom splits into ALL-INTEGER parts
    (floor = (p*(n-1)) DIV denom, frac = (p*(n-1)) MOD denom), the
    order statistics at 1-indexed ranks floor+1 and floor+2 come from
    the cumulative weights (exact ranks on a lossless summary), and
    the answer interpolates v_lo + frac/denom * (v_hi - v_lo) — the
    standard "linear" method. On a lossless summary over integers the
    rank split is EXACT rational arithmetic, so the result is
    bit-equal to numpy.percentile whenever the continuous rank lands
    on an order statistic, and within 1 ulp otherwise (numpy computes
    the fractional rank in floating point — (p/100)*(n-1) — and
    carries that rounding into the interpolation; this formulation
    doesn't, measured ~1.4e-14 relative across a 4,000-case fuzz).
    One conditional-min aggregation over the percents-cross-summary
    frame; returns ``(by..., p, q_value DOUBLE, n_rows)``."""
    keys = list(by)
    spark = sk.sparkSession
    pdf = local_frame(spark, [(int(p),) for p in percents], "p long")
    merged = sk.groupBy(*keys, "value").agg(F.sum("weight").alias("weight"))
    w_val = Window.partitionBy(*keys).orderBy("value")
    w_all = Window.partitionBy(*keys)
    c = merged.withColumn("_cw_", F.sum("weight").over(w_val)).withColumn(
        "_n_", F.sum("weight").over(w_all)
    )
    hnum = f"(CAST(p AS BIGINT) * (_n_ - 1))"  # h = hnum/denom, 0-indexed
    lo = F.expr(f"{hnum} DIV {denom} + 1")  # 1-indexed lower order stat
    frac = F.expr(f"({hnum} % {denom})")
    joined = pdf.crossJoin(c).withColumn("_lo_", lo).withColumn("_fr_", frac)
    agg = joined.groupBy(*keys, "p").agg(
        F.min(
            F.when(F.col("_cw_") >= F.col("_lo_"), F.col("value"))
        ).alias("_vlo_"),
        F.min(
            F.when(F.col("_cw_") >= F.col("_lo_") + 1, F.col("value"))
        ).alias("_vhi_"),
        F.max("_n_").alias("n_rows"),
        F.max("_fr_").alias("_frn_"),
    )
    val = F.col("_vlo_") + F.col("_frn_") / F.lit(float(denom)) * (
        F.coalesce(F.col("_vhi_"), F.col("_vlo_")) - F.col("_vlo_")
    )
    return agg.select(
        *keys, "p", val.cast("double").alias("q_value"), "n_rows"
    )
