"""Text analytics for large-scale training-data pipelines.

These are the document-quality primitives an LLM-data pipeline runs over
billions of documents, so every one of them is a pure Column expression
(JVM-side, codegen'd, pushdown-friendly) — no Python in the hot path.

- ``token_count``   whitespace tokens + a BPE-ish subword estimate
- ``quality_score`` length / punctuation / stopword-ratio heuristics
- ``language_id``   stopword-hit n-gram heuristic over a small profile set
- ``fingerprint``   normalized-text content hash for exact dedup
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WORD_SPLIT = r"\s+"

# Tiny per-language stopword profiles (public common-word lists). At
# scale these are literal arrays inside the plan — no broadcast needed.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "que", "pour", "dans"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "en", "por", "para"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
}


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens_ws(c: Column | str) -> Column:
    """Whitespace (\\s+) tokens, empties removed. NOT the oracle
    contract — every function that feeds a DuckDB oracle tokenizes
    with ``norm_tokens`` (single-space) instead; use this only for
    engine-internal paths with no SQL replay."""
    return F.array_remove(F.split(F.trim(_as_col(c)), _WORD_SPLIT), "")


# DuckDB's default trim() strips the Unicode Zs space separators —
# empirically 0x20, 0xA0, 0x1680, 0x2000-0x200A, 0x202F, 0x205F,
# 0x3000, and NOT \t or \n. Spark's F.trim strips ASCII 0x20 only, so
# the contract trim is F.btrim over the same character set (found by
# the hypothesis contract fuzz: '\xa0' diverged). btrim, not a regexp
# pair: the regexp version measured ~3x slower on line-grain paths
# (line_dedup 1.3 -> 4.0 s at sf0.1) and is semantically identical —
# both strip the longest edge run of set members.
_DUCKDB_TRIM_CHARS = (
    "\u0020\u00a0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u202f\u205f\u3000"
)


def zs_trim(c: Column | str) -> Column:
    """Edge-trim with DuckDB's exact default trim set (Unicode Zs) —
    use this instead of ``F.trim`` anywhere a value feeds a DuckDB
    oracle that calls ``trim(...)``."""
    return F.btrim(_as_col(c), F.lit(_DUCKDB_TRIM_CHARS))


# ASCII whitespace as an EXPLICIT class: Java regex \\s includes \\x0B
# while RE2 (DuckDB) \\s does not — spelling the set out keeps the
# collapse bit-identical across engines (verified exhaustively over
# the BMP; only \\x0B diverged under \\s).
_ASCII_WS_CLASS = r"[ \t\n\r\f\x0B]+"


def ws_norm_tokens(c: Column | str) -> Column:
    """Contract tokens of the ASCII-whitespace-COLLAPSED text — the
    tokenizer for quality heuristics over real documents: a
    multi-line/tabbed document tokenizes on every whitespace run
    (so stopword/length/repetition signals behave), while the result
    is still DuckDB-replayable verbatim:
    ``string_split(trim(lower(regexp_replace(text,
    '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')``."""
    return norm_tokens(F.regexp_replace(_as_col(c), _ASCII_WS_CLASS, " "))


def norm_tokens(c: Column | str) -> Column:
    """Single-space tokens of the trimmed, lowercased text — THE
    oracle-contract normalization (`string_split(trim(lower(text)),
    ' ')` on the DuckDB side). Deliberately NOT ``tokens_ws`` (which
    splits on \\s+): the two differ on tab/newline-separated tokens,
    and every operator whose values feed a DuckDB oracle must use this
    one so both engines tokenize identically on ANY input, not just
    the single-spaced fixtures. The trim replicates DuckDB's exact
    edge-strip set (Unicode Zs), not Spark's ASCII-space ``F.trim``."""
    return F.array_remove(F.split(zs_trim(F.lower(_as_col(c))), " "), "")


def token_count(c: Column | str) -> Column:
    """Token count over real whitespace (long; ws_norm_tokens)."""
    return F.size(ws_norm_tokens(c)).cast("long")


def subword_count(c: Column | str, chars_per_token: float = 3.6) -> Column:
    """BPE-ish token estimate: word-piece regex count plus a length
    correction — the standard chars/3.6 heuristic for English-like text."""
    col = _as_col(c)
    pieces = F.size(
        F.array_remove(F.split(col, r"[^\p{L}0-9]+|(?<=[a-z])(?=[A-Z])"), "")
    )
    return F.greatest(
        pieces.cast("double"), F.length(col) / F.lit(chars_per_token)
    ).cast("long")


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are profile stopwords
    (ws_norm_tokens — multi-line documents score correctly)."""
    toks = ws_norm_tokens(c)
    hits = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_PROFILES[lang]))
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(c: Column | str) -> Column:
    col = _as_col(c)
    n_punct = F.length(col) - F.length(F.regexp_replace(col, r"[\p{Punct}]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


def quality_score(c: Column | str, lang: str = "en") -> Column:
    """Document quality in [0,1]: blend of length sweet-spot, low
    punctuation density, stopword presence and mean-word-length sanity.
    Deterministic, fully columnar — the scale path for corpus filtering."""
    col = _as_col(c)
    n_tok = token_count(col).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio(col, lang)
    sw_score = F.least(sw * 4.0, F.lit(1.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 4.0)
    mean_wl = F.when(n_tok > 0, F.length(col) / n_tok).otherwise(F.lit(0.0))
    wl_score = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round(
        len_score * 0.3 + sw_score * 0.3 + punct_score * 0.2 + wl_score * 0.2, 6
    )


# Explicit BMP codepoint ranges, NOT \\p{script=...}: Java regex and
# RE2-family engines bind script properties to different Unicode
# versions, while literal ranges mean the same chars on every engine
# the oracle gate runs. Ranges cover the dominant blocks only — a
# router's signal, not a full Unicode classification.
SCRIPT_RANGES = (
    # Latin-1 letters exclude U+00D7 (multiplication sign) and U+00F7
    # (division sign) \u2014 the two non-letters embedded in the block
    ("latin", "A-Za-z\u00c0-\u00d6\u00d8-\u00f6\u00f8-\u024f"),
    ("cyrillic", "\u0400-\u04ff"),
    ("greek", "\u0370-\u03ff"),
    ("arabic", "\u0600-\u06ff"),
    ("devanagari", "\u0900-\u097f"),
    ("cjk", "\u4e00-\u9fff"),
    ("hangul", "\uac00-\ud7a3"),
    ("kana", "\u3040-\u30ff"),
)


def _script_intervals() -> list[tuple[str, list[tuple[int, int]]]]:
    """Numeric (lo, hi) codepoint intervals parsed from the SAME
    SCRIPT_RANGES regex-class constant the builtin interpolates, so
    the two implementations (and the DuckDB oracle) cannot drift."""
    out = []
    for name, rng in SCRIPT_RANGES:
        ivals = []
        i = 0
        while i < len(rng):
            if i + 2 < len(rng) and rng[i + 1] == "-":
                ivals.append((ord(rng[i]), ord(rng[i + 2])))
                i += 3
            else:
                ivals.append((ord(rng[i]), ord(rng[i])))
                i += 1
        out.append((name, ivals))
    return out


_SCRIPT_INTERVALS = _script_intervals()

_SCRIPT_PROFILE_SCHEMA = T.StructType(
    [T.StructField(f"n_{name}", T.LongType()) for name, _ in SCRIPT_RANGES]
    + [
        T.StructField("n_script_chars", T.LongType()),
        T.StructField("dominant", T.StringType()),
    ]
)


@F.pandas_udf(_SCRIPT_PROFILE_SCHEMA)
def _script_profile_udf(s: pd.Series) -> pd.DataFrame:
    import numpy as np

    texts = s.fillna("")
    lens = texts.str.len().to_numpy(dtype=np.int64)
    # one utf-32 decode of the whole Arrow batch, 8 vectorized range
    # masks, per-row counts via a single reduceat — every row in the
    # batch is profiled in one C-speed pass
    cps = np.frombuffer("".join(texts.tolist()).encode("utf-32-le"), dtype=np.uint32)
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    cols = {}
    counts = []
    for name, ivals in _SCRIPT_INTERVALS:
        mask = np.zeros(len(cps), dtype=bool)
        for lo, hi in ivals:
            mask |= (cps >= lo) & (cps <= hi)
        per_row = np.add.reduceat(
            np.concatenate([mask.astype(np.int64), [0]]), offsets[:-1]
        )
        # reduceat repeats the previous slice when offsets[i] ==
        # offsets[i+1] (empty string) — force those to 0
        per_row[lens == 0] = 0
        cols[f"n_{name}"] = per_row
        counts.append(per_row)
    stacked = np.stack(counts)
    cols["n_script_chars"] = stacked.sum(axis=0)
    best = stacked.max(axis=0)
    arg = stacked.argmax(axis=0)  # first max -> earlier entry wins ties
    names = np.array([name for name, _ in SCRIPT_RANGES])
    out = pd.DataFrame(cols)
    out["dominant"] = np.where(best > 0, names[arg], "und")
    return out


def script_profile(c: Column | str) -> Column:
    """Per-script character counts plus the dominant script — the
    language-ROUTING signal that decides which script-specific
    pipeline (tokenizer, stopword set, quality model) a crawled
    document enters, and the standard mixed-script/mojibake flag
    (e.g. latin spam inside a cjk crawl). Dominant script = argmax
    of the counts with ties to the earlier entry in SCRIPT_RANGES
    ("und" when every count is 0); exposed as
    struct(n_<script>... , n_script_chars, dominant). NULL text
    profiles as empty text (all-zero counts, "und") — a router must
    route every row.

    Arrow-batched numpy implementation: one utf-32 decode per batch +
    8 vectorized range masks + one ``reduceat`` — a single pass over
    the batch's codepoints. This is the measured winner by ~9x over
    the 8-sequential-``regexp_replace`` codegen chain it replaced
    (0.57 s vs 5.08 s at 10x sf0.1, scripts/probe_script_profile_r6.py
    as of commit 49a9b30,
    PLANS.md round-6; a one-pass codegen ``aggregate`` fold over
    ``split(s, '')`` chars was 2x SLOWER than even the chain — per-char
    struct accumulators don't vectorize). The chain survives as
    ``script_profile_builtin`` — zero-Python plans for callers that
    need them, and the parity anchor for tests."""
    return _script_profile_udf(_as_col(c))


def script_profile_builtin(c: Column | str) -> Column:
    """``script_profile`` as a pure built-in codegen chain (one
    ``regexp_replace`` + ``length`` per script over a let-bound
    column). Same contract bit-for-bit — kept as the zero-Python
    fallback and the parity test anchor; the pandas UDF above is ~9x
    faster (measured, PLANS.md round-6)."""
    from demy_spark.functions.text import _let

    def with_text(t0):
        t = F.coalesce(t0, F.lit(""))
        counts = [
            F.length(F.regexp_replace(t, f"[^{rng}]", "")).cast("long")
            for _, rng in SCRIPT_RANGES
        ]

        def with_counts(arr):
            parts = [
                arr[i].alias(f"n_{name}")
                for i, (name, _) in enumerate(SCRIPT_RANGES)
            ]
            total = F.aggregate(
                arr, F.lit(0).cast("long"), lambda a, x: a + x
            )
            best = F.array_max(arr)
            # array_position returns the FIRST max -> earlier entry
            # wins ties, matching the documented order
            names = F.array(
                *[F.lit(name) for name, _ in SCRIPT_RANGES]
            )
            dominant = F.when(best > 0, F.get(names, F.array_position(arr, best).cast("int") - 1)).otherwise(F.lit("und"))
            return F.struct(
                *parts,
                total.alias("n_script_chars"),
                dominant.alias("dominant"),
            )

        return _let(F.array(*counts), with_counts)

    return _let(_as_col(c), with_text)


def language_id(c: Column | str) -> Column:
    """Pick the language whose stopword profile hits the most tokens;
    'und' when nothing hits. Expressed as a greatest-of-struct so the
    whole decision stays in one codegen stage. Tokens are
    ws_norm_tokens, so newline/tab-separated text identifies
    correctly."""
    toks = ws_norm_tokens(c)
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, lambda x: x.isin(*words))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_PROFILES.items())
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(c: Column | str) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized, lowercased
    text. Two docs with the same fingerprint are exact (normalized)
    duplicates — the groupBy key for exact dedup at any scale."""
    norm = F.regexp_replace(F.lower(F.trim(_as_col(c))), r"\s+", " ")
    return F.md5(norm)


def rolling_hash_shingles(c: Column | str, k: int = 3) -> Column:
    """k-word shingle hashes (xxhash64) — the per-row convenience form
    of the dedup shingle pipeline (bulk dedup uses the codegen'd
    ``dedup._shingle_rows``). Tokens are the norm_tokens single-space
    contract, same as every dedup oracle."""
    toks = norm_tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k)))
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def dup_ngram_fraction(c: Column | str, n: int = 2) -> Column:
    """Fraction of word n-gram OCCURRENCES that are repeats of an
    earlier n-gram in the same document: 1 - distinct/total. The
    within-document repetition signal of the published corpus-quality
    rule sets (high values flag boilerplate/template spam). 0.0 when
    the document has fewer than ``n`` tokens. Pure per-row expression
    — no shuffle, no UDF. Tokens are ws_norm_tokens."""
    toks = ws_norm_tokens(c)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    total = F.size(grams)
    return F.when(
        total > 0,
        1.0 - F.size(F.array_distinct(grams)) / total.cast("double"),
    ).otherwise(F.lit(0.0))


def word_grams(toks: Column, n: int) -> Column:
    """ORDERED word n-grams joined with single spaces over an (ideally
    let-bound) tokens array; empty array when the document has fewer
    than ``n`` tokens (the ``size >= n`` guard matters: Spark's
    ``sequence(1, stop)`` steps BACKWARD when stop < 1). The single
    shared gram constructor — curation's shingle/winnowing hashes and
    the repetition signals all build grams here, so the DuckDB
    slice-parity contract lives in ONE place."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def _run_stats(items: Column) -> Column:
    """Duplication statistics over a string array in ONE pass: sort,
    then measure runs of equal values. Returns struct(dup_excess: long
    — occurrences beyond the first of each duplicated value; dup_chars:
    long — characters across ALL occurrences of duplicated values;
    top_cnt: long / top_item: string — the most frequent value, ties
    to the lexicographically smallest).

    O(G log G) per row (native array_sort, then positions arithmetic)
    instead of the O(G·distinct) ``filter``-count shape — the
    difference between a narrow expression and a blow-up on
    million-token documents. No shuffle, no UDF.

    Formulation note (measured, PLANS.md round-5): runs are located as
    START POSITIONS (``filter`` over 1..G keeping i where s[i] differs
    from s[i-1]) and their lengths as deltas to the next start
    (``zip_with`` against the shifted starts), with the sorted array /
    starts / lengths each LET-BOUND (``text._let``) so they evaluate
    once per row — an unbound reference inside a lambda re-evaluates
    its whole producing subtree per ELEMENT (the splitDoc superlinear
    pitfall, text.py:_let), which turned this into O(G²·log G). Per
    element the bound shape costs one null-safe ``get`` + compare; the
    first cut — an ``aggregate`` fold threading a 6-field struct with
    ~10 conditionals per element through Catalyst's interpreted HOF
    path — measured ~40µs per GRAM (3ms per 80-gram doc, 15.5s for 5k
    docs on one core), far slower than this shape for identical
    output. Because the array is sorted ascending and
    ``array_position`` returns the FIRST maximum run, the
    smallest-gram tie-break falls out for free."""
    from demy_spark.functions.text import _let

    def with_sorted(s):
        n = F.size(s)
        # 1-based positions; sequence(1, 0) would step BACKWARD: guard
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        # run starts: position 1, plus every i whose value differs
        # from its predecessor (get() is 0-based and null-safe; at i=1
        # the compare is null and TRUE | null = TRUE)
        starts_expr = F.filter(
            idx,
            lambda i: (i == 1)
            | ~F.get(s, i - 1).eqNullSafe(F.get(s, i - 2)),
        )

        def with_starts(starts):
            n_runs = F.size(starts)
            # run lengths: next start - this start (the sentinel n+1
            # closes the final run)
            nexts = F.concat(
                F.slice(starts, 2, F.greatest(n_runs - 1, F.lit(0))),
                F.array(n + 1),
            )
            lens_expr = F.zip_with(
                starts, nexts, lambda a, b: (b - a).cast("long")
            )

            def with_lens(lens):
                dup_chars = F.aggregate(
                    F.zip_with(
                        lens,
                        starts,
                        lambda l, st: F.when(
                            l >= 2, l * F.length(F.get(s, st - 1))
                        ).otherwise(F.lit(0).cast("long")),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                top_cnt = F.array_max(lens)
                top_item = F.get(
                    s,
                    F.get(starts, F.array_position(lens, top_cnt) - 1) - 1,
                )
                empty = n == 0
                zero = F.lit(0).cast("long")
                return F.struct(
                    F.when(empty, zero)
                    .otherwise((n - n_runs).cast("long"))
                    .alias("dup_excess"),
                    F.when(empty, zero).otherwise(dup_chars).alias(
                        "dup_chars"
                    ),
                    F.when(empty, zero).otherwise(top_cnt).alias("top_cnt"),
                    F.when(empty, F.lit(None).cast("string"))
                    .otherwise(top_item)
                    .alias("top_item"),
                )

            return _let(lens_expr, with_lens)

        return _let(starts_expr, with_starts)

    return _let(F.array_sort(items), with_sorted)


def _ngram_fracs(toks: Column, n: int) -> Column:
    """struct(top_frac, dup_frac) for word ``n``-grams over an
    ALREADY-BOUND tokens array: ONE ``_run_stats`` pass (the sorted
    run-length statistic carries both the argmax and the duplicate
    totals) and a let-bound normalized length feed both fractions —
    callers that want both signals at the same ``n`` pay for one."""
    from demy_spark.functions.text import _let

    def with_stats(stats):
        def with_len(norm_len):
            top = F.when(
                (stats["top_cnt"] > 0) & (norm_len > 0),
                F.least(
                    F.lit(1.0),
                    (stats["top_cnt"] * F.length(stats["top_item"]))
                    / norm_len.cast("double"),
                ),
            ).otherwise(F.lit(0.0))
            dup = F.when(
                (stats["dup_chars"] > 0) & (norm_len > 0),
                F.least(
                    F.lit(1.0),
                    stats["dup_chars"] / norm_len.cast("double"),
                ),
            ).otherwise(F.lit(0.0))
            return F.struct(top.alias("top_frac"), dup.alias("dup_frac"))

        return _let(F.length(F.concat_ws(" ", toks)), with_len)

    return _let(_run_stats(word_grams(toks, n)), with_stats)


def _top_frac_from_toks(toks: Column, n: int) -> Column:
    """top fraction over an already-bound tokens array."""
    return _ngram_fracs(toks, n)["top_frac"]


def _dup_frac_from_toks(toks: Column, n: int) -> Column:
    """dup fraction over an already-bound tokens array."""
    return _ngram_fracs(toks, n)["dup_frac"]


def top_ngram_char_fraction(c: Column | str, n: int) -> Column:
    """Characters covered by every occurrence of the single most
    frequent word n-gram, over the length of the whitespace-normalized
    text — the "top n-gram" repetition signal of the published
    corpus-quality rule sets (n=2..4; a high value means one template
    phrase dominates the document). Ties break to the smallest gram;
    0.0 when the document has fewer than ``n`` tokens. Overlapping
    occurrences double-count by construction, so the value caps at
    1.0 (e.g. "a b a b" counts "a b a b" twice at n=4)."""
    from demy_spark.functions.text import _let

    return _let(ws_norm_tokens(c), lambda toks: _top_frac_from_toks(toks, n))


def dup_ngram_char_fraction(c: Column | str, n: int) -> Column:
    """Characters contained in ALL occurrences of duplicated word
    n-grams, over the length of the whitespace-normalized text, capped
    at 1.0 (overlapping grams double-count by construction; the
    published rule sets use n=5..10 where a high value flags wholesale
    repeated passages). 0.0 when the document has fewer than ``n``
    tokens."""
    from demy_spark.functions.text import _let

    return _let(ws_norm_tokens(c), lambda toks: _dup_frac_from_toks(toks, n))


def dup_line_fraction(c: Column | str, sep: str = "\n") -> Column:
    """Fraction of non-empty line OCCURRENCES that repeat an earlier
    line of the same document (1 - distinct/total) — the duplicate
    line/paragraph signal (``sep`` is a Java regex; pass "\\n\\n" for
    paragraphs)."""
    from demy_spark.functions.text import _let

    def with_lines(lines):
        total = F.size(lines)
        return F.when(
            total > 0,
            1.0 - F.size(F.array_distinct(lines)) / total.cast("double"),
        ).otherwise(F.lit(0.0))

    return _let(
        F.filter(F.split(_as_col(c), sep), lambda x: x != ""), with_lines
    )


def dup_line_char_fraction(c: Column | str, sep: str = "\n") -> Column:
    """Characters a per-document line dedup would REMOVE (occurrences
    beyond the first of each duplicated line), over the characters of
    all non-empty lines."""
    from demy_spark.functions.text import _let

    def with_lines(lines):
        # excess chars = total chars - one kept copy per distinct line
        tc_expr = F.aggregate(
            lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        kept_chars = F.aggregate(
            F.array_distinct(lines),
            F.lit(0).cast("long"),
            lambda a, x: a + F.length(x),
        )

        def with_total(total_chars):
            return F.when(
                total_chars > 0,
                (total_chars - kept_chars) / total_chars.cast("double"),
            ).otherwise(F.lit(0.0))

        return _let(tc_expr, with_total)

    return _let(
        F.filter(F.split(_as_col(c), sep), lambda x: x != ""), with_lines
    )


def repetition_profile(
    c: Column | str,
    *,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    line_sep: str = "\n",
) -> Column:
    """The within-document repetition bundle of the published
    corpus-quality rule sets as ONE struct column: duplicate-line
    occurrence and character fractions plus top-n-gram (default
    n=2,3,4) and duplicate-n-gram (default n=5,10) character
    fractions. Field names: dup_line_frac, dup_line_char_frac,
    top{n}_char_frac, dup{n}_char_frac. Pure per-row expressions —
    composes with ``gopher_rules`` as a narrow predicate/projection
    at any scale. The tokenization is let-bound ONCE and shared by
    every n-gram signal, and each distinct ``n``'s run statistic is
    let-bound ONCE even when it feeds both a top and a dup field
    (``text._let``; lambda-bearing subtrees are excluded from Spark's
    subexpression elimination, so unbound sharing would re-sort the
    gram array per referencing field)."""
    from demy_spark.functions.text import _let

    def with_toks(toks):
        uniq = list(dict.fromkeys([*top_ns, *dup_ns]))

        # one ARRAY binding, not a per-n chain of nested _lets: every
        # nesting level costs the analyzer a fixed-point iteration, and
        # a sequential chain over 5 ns on top of the per-signal lambda
        # depth blows the 100-iteration budget (measured); the array
        # keeps the depth constant while still evaluating each struct
        # exactly once
        def assemble(arr):
            bound = {n: arr[i] for i, n in enumerate(uniq)}
            parts = [
                dup_line_fraction(c, line_sep).alias("dup_line_frac"),
                dup_line_char_fraction(c, line_sep).alias(
                    "dup_line_char_frac"
                ),
            ]
            for n in top_ns:
                parts.append(
                    bound[n]["top_frac"].alias(f"top{n}_char_frac")
                )
            for n in dup_ns:
                parts.append(
                    bound[n]["dup_frac"].alias(f"dup{n}_char_frac")
                )
            return F.struct(*parts)

        return _let(
            F.array(*[_ngram_fracs(toks, n) for n in uniq]), assemble
        )

    return _let(ws_norm_tokens(_as_col(c)), with_toks)


def gopher_rules(
    c: Column | str,
    *,
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_wl: float = 2.0,
    max_mean_wl: float = 12.0,
    max_dup2: float = 0.3,
    lang: str = "en",
) -> Column:
    """Document-quality rule bundle in the style of the published
    corpus-filtering heuristics: a struct of per-rule booleans plus the
    conjunction, computed entirely as per-row expressions so the filter
    is a narrow predicate at any scale.

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_wl, max_mean_wl]; duplicate 2-gram fraction ≤ max_dup2;
    at least one profile stopword (gibberish guard). Tokens are
    ws_norm_tokens — real multi-line documents pass the rules they
    should pass, and the q92 oracle replays the identical collapse."""
    toks = ws_norm_tokens(c)
    n_tok = F.size(toks)
    mean_wl = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    dup2 = dup_ngram_fraction(c, 2)
    sw_hits = F.size(F.filter(toks, lambda x: x.isin(*LANG_PROFILES[lang])))
    ok_words = (n_tok >= min_words) & (n_tok <= max_words)
    ok_wl = (mean_wl >= min_mean_wl) & (mean_wl <= max_mean_wl)
    ok_dup = dup2 <= max_dup2
    ok_sw = sw_hits > 0
    return F.struct(
        ok_words.alias("ok_words"),
        ok_wl.alias("ok_mean_word_len"),
        ok_dup.alias("ok_dup2"),
        ok_sw.alias("has_stopword"),
        (ok_words & ok_wl & ok_dup & ok_sw).alias("keep"),
    )


def c4_rules(
    c: Column | str,
    *,
    min_line_words: int = 5,
    min_kept_lines: int = 3,
    policy_phrases: tuple[str, ...] = (
        "terms of use",
        "privacy policy",
        "cookie policy",
        "uses cookies",
    ),
) -> Column:
    """LINE-level corpus cleanup in the style of the published C4
    heuristics (the line-granular complement of the document-level
    ``gopher_rules``): keep a line only if it ends in terminal
    punctuation, has at least ``min_line_words`` words, and mentions
    neither javascript nor a boilerplate policy phrase; drop the whole
    document if fewer than ``min_kept_lines`` lines survive or it
    contains "lorem ipsum" or a curly brace (template leakage).

    Everything is per-row built-in expressions over ONE let-bound
    line-marks array (Catalyst HOF lambdas get no common-subexpression
    elimination — re-deriving the marks per output field would
    re-evaluate the whole per-line chain once per field), so the
    filter is a narrow map at any scale and the DuckDB oracle replays
    it with the same list comprehension.

    Returns a struct: ``text_clean`` (kept lines, edge-trimmed, joined
    with newlines), line counts total/kept, per-reason drop counts
    (precedence: javascript > policy phrase > too-short > no terminal
    punctuation), the two document-level flags, and ``keep``.
    """
    from demy_spark.functions.text import _let

    col = _as_col(c)

    def mark(line: Column) -> Column:
        lt = zs_trim(line)
        low = F.lower(lt)
        toks = F.array_remove(F.split(low, " "), "")
        js = low.contains("javascript")
        pol = F.lit(False)
        for p in policy_phrases:
            pol = pol | low.contains(p)
        short = F.size(toks) < min_line_words
        nopunct = ~lt.rlike('[.!?"]$')
        keep = ~js & ~pol & ~short & ~nopunct
        reason = (
            F.when(js, F.lit(1))
            .when(pol, F.lit(2))
            .when(short, F.lit(3))
            .when(nopunct, F.lit(4))
            .otherwise(F.lit(0))
        )
        return F.struct(lt.alias("l"), keep.alias("k"), reason.alias("r"))

    def with_marks(marks: Column) -> Column:
        kept = F.filter(marks, lambda m: m["k"])
        n_kept = F.size(kept)

        def n_reason(code: int) -> Column:
            return F.size(F.filter(marks, lambda m: m["r"] == code))

        low_doc = F.lower(col)
        has_lorem = low_doc.contains("lorem ipsum")
        has_brace = col.contains("{")
        return F.struct(
            F.array_join(
                F.transform(kept, lambda m: m["l"]), "\n"
            ).alias("text_clean"),
            F.size(marks).alias("n_lines"),
            n_kept.alias("n_kept"),
            n_reason(1).alias("n_js"),
            n_reason(2).alias("n_policy"),
            n_reason(3).alias("n_short"),
            n_reason(4).alias("n_nopunct"),
            has_lorem.alias("has_lorem"),
            has_brace.alias("has_brace"),
            (
                (n_kept >= min_kept_lines) & ~has_lorem & ~has_brace
            ).alias("keep"),
        )

    return _let(F.transform(F.split(col, "\n"), mark), with_marks)
