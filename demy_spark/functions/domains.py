"""Public-suffix registered-domain extraction — the domain-level
curation key.

Per-registered-domain rollups (quality gates, blocklists, domain
holdout splits) are the standard corpus-curation primitive the
RefinedWeb/CCNet lineage applies between URL decomposition and
document filtering; ``parse_url(..., 'HOST')`` alone cannot express
it because multi-label public suffixes (``co.uk``, ``github.io``)
make "last two labels" wrong. The algorithm here is the published
publicsuffix.org matching spec: among all rules matching a suffix of
the host, an exception rule prevails, else the rule with the most
labels; the public suffix is the matched labels (one label fewer for
an exception), and the registered domain is the public suffix plus
the one preceding label. When nothing matches, the prevailing rule
is ``*`` (the last label is the public suffix).

Scale shape: the rule list — even the full ~10k-entry public list —
is dictionary-sized, so it ships to executors inside the UDF closure
(one dict per worker, like the ANN centroid tables) and the whole
operator is a PURE PER-ROW MAP: zero shuffles, zero joins, linear in
host labels. The DuckDB oracle replays the spec relationally instead
(explode candidate suffixes → join the rules table → score argmax),
so the correctness gate exercises the algorithm through a second,
independent formulation.

No reference analog (extension, like chunking/URL decomposition):
the reference's crawler (net2demy/src/main/scala/Execute.scala)
filters raw URLs by regex and never needs domain grouping.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "PSL_SAMPLE_RULES",
    "blocklist_gate",
    "holdout_split",
    "load_psl_rules",
    "parsed_psl_rules",
    "registered_domain",
]


def load_psl_rules(path: str, *, section: str | None = None) -> tuple[str, ...]:
    """Parse a file in the published ``public_suffix_list.dat`` format
    (publicsuffix.org/list) into the rule-string tuple
    ``registered_domain`` / ``parsed_psl_rules`` consume.

    Format, per the spec: ``//`` starts a comment line; blank lines
    are ignored; each remaining line is one rule, read up to the
    first whitespace; rules are matched case-insensitively (stored
    lowercased here). The two division markers
    ``// ===BEGIN ICANN DOMAINS===`` / ``// ===BEGIN PRIVATE
    DOMAINS===`` split the list into sections — pass
    ``section="icann"`` or ``"private"`` to keep only one (e.g. a
    curation pipeline that must NOT treat private registries like
    github.io as suffix boundaries); default keeps every rule.

    The full published list (~10k rules) stays dictionary-sized —
    this loader exists so production corpora can feed the real file
    instead of the PSL_SAMPLE_RULES slice; operator and oracle are
    rule-count-agnostic."""
    if section not in (None, "icann", "private"):
        raise ValueError(f"unknown PSL section: {section!r}")
    rules: list[str] = []
    current: str | None = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            if line.startswith("//"):
                if "===BEGIN ICANN DOMAINS===" in line:
                    current = "icann"
                elif "===BEGIN PRIVATE DOMAINS===" in line:
                    current = "private"
                elif "===END" in line:
                    current = None
                continue
            if section is not None and current != section:
                continue
            rules.append(line.split()[0].lower())
    return tuple(rules)

# A representative slice of the public-suffix list: plain TLDs,
# multi-label suffixes, a private-registry suffix (github.io), a
# wildcard family (*.ck) and its exception (!www.ck) — every rule
# kind the spec defines. Swap in the full published list for
# production corpora; the operator and oracle are rule-count-agnostic.
PSL_SAMPLE_RULES = (
    "com",
    "org",
    "net",
    "io",
    "uk",
    "co.uk",
    "ac.uk",
    "au",
    "com.au",
    "jp",
    "co.jp",
    "github.io",
    "*.ck",
    "!www.ck",
)


def parsed_psl_rules(
    rules: tuple[str, ...] = PSL_SAMPLE_RULES,
) -> list[tuple[str, str, int]]:
    """Normalize rule strings to (key, kind, eff) triples shared by
    the UDF closure and the oracle's VALUES table:

    - exact rule ``foo.bar`` → ("foo.bar", "exact", 2): a matching
      suffix is the public suffix, eff = its label count;
    - wildcard ``*.tail``   → ("tail", "wild", 0): matches any suffix
      whose PARENT equals the tail, eff = the matched suffix's own
      label count (computed at match time — 0 here is a placeholder);
    - exception ``!foo.bar`` → ("foo.bar", "exc", 1): the matched
      suffix is NOT a public suffix; eff = label count minus one.
    """
    out = []
    for r in rules:
        r = r.strip().lower()
        if r.startswith("!"):
            key = r[1:]
            out.append((key, "exc", key.count(".")))  # nlab - 1
        elif r.startswith("*."):
            out.append((r[2:], "wild", 0))
        else:
            out.append((r, "exact", r.count(".") + 1))
    return out


_DOMAIN_SCHEMA = T.StructType(
    [
        T.StructField("public_suffix", T.StringType()),
        T.StructField("registered_domain", T.StringType()),
    ]
)


def registered_domain(
    c: Column | str, rules: tuple[str, ...] = PSL_SAMPLE_RULES
) -> Column:
    """struct(public_suffix, registered_domain) for a host column.

    Match scoring mirrors the oracle's integer encoding exactly:
    every matching rule scores ``is_exception * 1000 + eff`` (eff =
    public-suffix label count that rule implies), the max score wins
    (the spec's "exception prevails, else most labels"), and a
    matchless host falls to the default ``*`` rule (score 1). NULL
    host → NULL struct fields; the host is lowercased and a trailing
    dot stripped first (the spec's canonicalization)."""
    parsed = parsed_psl_rules(rules)
    exact = {k: eff for k, kind, eff in parsed if kind == "exact"}
    exc = {k: eff for k, kind, eff in parsed if kind == "exc"}
    wild = {k for k, kind, _ in parsed if kind == "wild"}

    def lookup(host):
        if host is None:
            return (None, None)
        h = host.lower().rstrip(".")
        ls = h.split(".")
        n = len(ls)
        score = 1  # the default "*" rule
        for i in range(n):
            suf = ".".join(ls[i:])
            nlab = n - i
            if suf in exc:
                score = max(score, 1000 + exc[suf])
            if suf in exact:
                score = max(score, exact[suf])
            if ".".join(ls[i + 1 :]) in wild and nlab >= 2:
                score = max(score, nlab)
        eff = score % 1000
        ps = ".".join(ls[n - eff :])
        reg = ".".join(ls[n - eff - 1 :]) if n > eff else None
        return (ps, reg)

    @F.pandas_udf(_DOMAIN_SCHEMA)
    def _lookup_udf(s: pd.Series) -> pd.DataFrame:
        pairs = [lookup(h) for h in s]
        return pd.DataFrame(
            {
                "public_suffix": [p[0] for p in pairs],
                "registered_domain": [p[1] for p in pairs],
            }
        )

    col = F.col(c) if isinstance(c, str) else c
    return _lookup_udf(col)


def holdout_split(key: Column | str, *, valid_permille: int = 100) -> Column:
    """Deterministic leakage-free train/valid assignment by hashing a
    GROUPING KEY: every row sharing the key lands in the same split by
    construction — the property that matters when the key is the
    registered domain (``holdout_split(registered_domain(host)
    ["registered_domain"])``), because page-level random splits leak
    near-duplicate content from the same site across the boundary
    (the standard web-corpus evaluation mistake decontamination
    pipelines guard against).

    The hash is the oracle-contract md5 slice (``dedup._md5_long`` —
    the only hash both gate engines compute identically), bucketed to
    permille: bucket < ``valid_permille`` → 'valid', else 'train'.
    Pure per-row map, zero shuffles; the split is reproducible across
    runs, engines and corpus versions (a domain keeps its split when
    the corpus is re-crawled — incremental pipelines depend on that).
    """
    from demy_spark.operators.dedup import _md5_long

    col = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(_md5_long(col, 1), F.lit(1000))
    return F.when(bucket < valid_permille, F.lit("valid")).otherwise(
        F.lit("train")
    )


# The auto-dispatch boundary: below this deduped-domain width the
# broadcast leg measured fastest on every probe host (a ≤~60 MB
# relation); above it the per-executor relation copy and the
# driver-serialized broadcast build dominate and the constant-size
# split-block bloom sketch wins (PLANS.md round-8 width table +
# round-9 bloom table: broadcast 4.8-5.3 s vs bloom 11.1 s on
# local[32] where all threads share ONE relation, but ~240 MB per
# executor at 4 M domains on a real cluster — the r8-documented ≥2 M
# fallback boundary).
_AUTO_BLOOM_MIN_DOMAINS = 2_000_000


def resolve_blocklist_strategy(blocklist, domain_col: str = "domain") -> str:
    """The strategy="auto" dispatch, shared by the batch gate and the
    streaming quality gate (which resolves ONCE at stream setup so
    per-batch plans carry no count job). Counts the RAW blocklist — a
    narrow scan, no shuffle — rather than the deduped frame: raw ≤
    boundary implies distinct ≤ boundary, so the broadcast pick is
    always sound; a list duplicated past the boundary (raw > 2M,
    distinct far below — rare for real UT1-shaped lists, which carry
    ~1 category per domain) dispatches bloom where broadcast might
    have edged it, a perf-only conservatism that avoids shuffling the
    list twice per gate call (code-review r10: the deduped count
    re-ran the groupBy aggregation once for the count and again for
    the join/bloom build)."""
    n = blocklist.select(domain_col).count()
    return "broadcast" if n <= _AUTO_BLOOM_MIN_DOMAINS else "bloom"


def blocklist_gate(
    df,
    host: Column | str,
    blocklist,
    *,
    rules: tuple[str, ...] = PSL_SAMPLE_RULES,
    domain_col: str = "domain",
    category_col: str = "category",
    broadcast: bool | None = None,
    strategy: str | None = None,
    bloom_m_bits: int = 1 << 23,
    bloom_n_hashes: int = 7,
    reg_domain_col: str | None = None,
):
    """UT1-style domain blocklist gate — the standard curation filter
    that drops documents whose REGISTERED domain appears on a
    categorized blocklist (ads/adult/malware/...), the join every
    CCNet/RefinedWeb-lineage pipeline applies right after URL
    decomposition.

    The gate key is ``coalesce(registered_domain(host), canonical
    host)``: hosts with no registrable domain (host == its own public
    suffix, e.g. a bare ``src.ck`` under ``*.ck``) still match a
    blocklist entry naming them directly — UT1 lists bare hosts too.

    Scale shape: the PSL extraction is a pure per-row map (rule dict
    in the UDF closure) and on the broadcast leg (what "auto" picks
    below 2 M domains) the deduplicated blocklist is BROADCAST, so
    the whole gate is shuffle-free regardless of corpus size. Broadcast is right far
    wider than the defaults suggest: the deduped (domain, category)
    frame is ~30 B/row, so gate wall time is flat from the 9-row
    fixture through 100 k domains and a 1 M-domain list (~30 MB
    relation) costs only ~+0.6 s of broadcast build
    (scripts/probe_blocklist_width_r8.py as of commit 49a9b30, table in
    PLANS.md round-8).
    The real UT1 adult list (~4 M domains, ~120 MB + JVM relation
    overhead) is the practical ceiling: above ~1-2 M domains the
    per-executor relation copy gets memory-heavy and the broadcast
    build serializes on the driver — pass ``broadcast=False`` there to let
    Catalyst/AQE pick a plain shuffle join on the registered domain
    (one corpus shuffle; still no skew risk because the key is the
    deduped domain). At that width the better composition is
    ``strategy="bloom"``: a SPLIT-BLOCK Bloom filter over the
    blocklist domains (one 512-bit block per key, the blocked layout
    Impala/Parquet bloom filters use) reduced to a CONSTANT-size
    ``(block, array<long>[8])`` frame whatever the list width, then
    the corpus splits map-side on ONE broadcast join + bit tests —
    all JVM, no driver collect: definite non-members (the ~99% of
    documents on unlisted domains) keep ``category`` NULL with ZERO
    corpus shuffle, and only the maybe-member sliver shuffle-joins
    the blocklist to recover the category (a Bloom false positive
    just finds no match there — correctness never depends on the
    fpr). The corpus is scanned twice (two narrow map legs) instead
    of shuffled once — the right trade at 100 TB, where the shuffle
    is the cost; pass ``reg_domain_col`` (the q131 shape — PSL run
    once upstream) so the key derivation isn't paid twice either.

    ``strategy`` defaults to **"auto"** (VERDICT r9 task 5): the gate
    counts the blocklist once (:func:`resolve_blocklist_strategy` — a
    narrow scan over the list, never the corpus, never a shuffle) and
    dispatches on the MEASURED boundary
    from the round-8/9 probes (PLANS.md tables,
    scripts/probe_blocklist_{width_r8,bloom_r9}.py as of commit
    49a9b30): ≤ 2 M domains →
    "broadcast" (a ≤~60 MB relation broadcasts fine and is fastest
    everywhere measured); above → "bloom" (at UT1's 4 M the relation
    is ~240 MB per executor and the broadcast build serializes on the
    driver — the r8-documented fallback boundary — while the
    split-block sketch stays 1-16 MiB whatever the width). UT1-width
    users no longer need to know the flag. The legacy ``broadcast``
    bool still forces its leg ("broadcast"/"shuffle") when passed
    explicitly; ``strategy`` always wins when given. Returns ``df``
    plus ``reg_domain``, ``category`` (NULL when unlisted) and
    ``keep`` (category IS NULL) — identical output under every
    strategy (test_domains pins the identity, auto path included).

    The gate is ROW-PRESERVING: real UT1 lists place one domain in
    several categories (adult + redirector is common), so the
    blocklist is reduced to one row per domain before the join —
    ``category`` reports the lexicographically-first listing (a
    deterministic representative; the keep verdict is identical
    whichever category matched).
    """
    if strategy is None:
        if broadcast is None:
            strategy = "auto"
        else:
            strategy = "broadcast" if broadcast else "shuffle"
    if strategy not in ("auto", "broadcast", "shuffle", "bloom"):
        raise ValueError(f"unknown blocklist_gate strategy: {strategy!r}")
    h = F.col(host) if isinstance(host, str) else host
    canon = F.lower(F.regexp_replace(h, r"\.+$", ""))
    # pipelines that already materialized the registered domain
    # (q131's rollup does) pass it through: the PSL extraction is the
    # expensive per-row step, and the bloom strategy re-evaluates the
    # key derivation in both of its map legs — pay it once upstream
    rd = (
        F.col(reg_domain_col)
        if reg_domain_col is not None
        else registered_domain(h, rules)["registered_domain"]
    )
    keyed = df.withColumn("reg_domain", rd).withColumn(
        "_k_", F.coalesce(F.col("reg_domain"), canon)
    )
    bl = (
        blocklist.select(
            F.col(domain_col).alias("_k_"), F.col(category_col).alias("category")
        )
        .groupBy("_k_")
        .agg(F.min("category").alias("category"))
    )
    if strategy == "auto":
        strategy = resolve_blocklist_strategy(blocklist, domain_col)
    if strategy == "bloom":
        return _bloom_gate(keyed, bl, bloom_m_bits, bloom_n_hashes)
    if strategy == "broadcast":
        bl = F.broadcast(bl)
    return (
        keyed.join(bl, "_k_", "left")
        .withColumn("keep", F.col("category").isNull())
        .drop("_k_")
    )


def _block_cols(key: Column, m_bits: int, n_hashes: int) -> list[Column]:
    """Split-block Bloom derivation, shared by build and probe: block
    index + the ``n_hashes`` (word, bit) positions INSIDE the key's
    single 512-bit block. Hashes are xxhash64 (seeded per position),
    NOT the md5 oracle family: the sketch is internal — gate
    correctness comes from the exact survivor join, never from bit
    parity — and xxhash64 is the cheap JVM hash, which matters at two
    evaluations per corpus row. NULL keys: xxhash64 skips NULL inputs
    (hash of the seed alone), so they probe SOME block; a false
    positive there still joins to nothing — guaranteed keep."""
    n_blocks = max(1, m_bits // 512)
    s = key.cast("string")
    out = [F.pmod(F.xxhash64(s), F.lit(n_blocks)).alias("_blk_")]
    for j in range(n_hashes):
        pos = F.pmod(F.xxhash64(F.lit(j + 1), s), F.lit(512))
        out.append((pos / 64).cast("int").alias(f"_w{j}_"))
        out.append(F.pmod(pos, F.lit(64)).cast("int").alias(f"_b{j}_"))
    return out


def _bloom_gate(keyed, bl, m_bits: int, n_hashes: int):
    """The wide-blocklist leg of :func:`blocklist_gate`: a SPLIT-BLOCK
    (register-blocked) Bloom filter — every key's ``n_hashes`` bits
    live in ONE 512-bit block, the blocked layout Impala/Parquet bloom
    filters use — reduced to a CONSTANT-size frame (m/512 rows of
    ``array<long>[8]``, ~2 MiB per 2^23 bits whatever the blocklist
    width: that compression is what lets the sketch broadcast where
    the 4M-domain string list cannot). The probe is ONE map-side
    broadcast join + pure bit arithmetic — all JVM, no Python, no
    driver collect — and only the maybe-member sliver shuffle-joins
    the blocklist to recover the category (a false positive just
    finds no match there; correctness never depends on the fpr, which
    the identity tests pin). The corpus is scanned twice (miss leg +
    survivor leg, both narrow maps) instead of shuffled once — the
    right trade when the corpus dwarfs the list."""
    blocks = (
        bl.select(*_block_cols(F.col("_k_"), m_bits, n_hashes))
        .select(
            "_blk_",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"_w{j}_").alias("w"), F.col(f"_b{j}_").alias("b")
                        )
                        for j in range(n_hashes)
                    ]
                )
            ).alias("p"),
        )
        .groupBy("_blk_", F.col("p.w").alias("_w_"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p.b AS INT))")
            ).alias("_bits_")
        )
        .groupBy("_blk_")
        .agg(
            F.map_from_arrays(
                F.collect_list("_w_"), F.collect_list("_bits_")
            ).alias("_m_")
        )
        .select(
            "_blk_",
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                # try_: ANSI element_at raises on a missing map key
                lambda w: F.coalesce(
                    F.try_element_at("_m_", w.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("_block_words_"),
        )
    )
    probed = keyed.select(
        "*", *_block_cols(F.col("_k_"), m_bits, n_hashes)
    ).join(F.broadcast(blocks), "_blk_", "left")
    hits_j = [
        F.coalesce(
            F.expr(
                f"(shiftright(element_at(_block_words_, _w{j}_ + 1), "
                f"_b{j}_) & 1) = 1"
            ),
            F.lit(False),
        )
        for j in range(n_hashes)
    ]
    aux = [c for c in probed.columns if c not in keyed.columns]
    probed = probed.withColumn(
        "_maybe_", reduce(lambda a, b: a & b, hits_j)
    ).drop(*aux)
    cat_type = bl.schema["category"].dataType
    misses = probed.where(~F.col("_maybe_")).select(
        *keyed.columns, F.lit(None).cast(cat_type).alias("category")
    )
    hits = probed.where(F.col("_maybe_")).drop("_maybe_").join(bl, "_k_", "left")
    return (
        misses.unionByName(hits)
        .withColumn("keep", F.col("category").isNull())
        .drop("_k_")
    )
