"""Sub-document deduplication: cross-document repeated-line removal
and duplicated-substring span detection.

LLM-pipeline extensions (the reference engine dedups whole records
only — latest-wins merge `topic/Tag.scala:108-120` — never inside a
document). These are the two standard *within-document* curation
passes a pretraining pipeline runs after whole-document dedup:

- ``line_dedup``: CCNet-style boilerplate removal — split each
  document into lines, hash the normalized line, count how many
  DISTINCT documents contain each line, and strip lines whose
  document frequency exceeds ``max_docs`` (navigation chrome, cookie
  banners, license footers). Documents are reassembled in original
  line order.
- ``duplicated_spans``: Lee-et-al-style repeated-substring detection
  — hash every token ``k``-gram, find grams whose total occurrence
  count across the corpus reaches ``min_count``, expand the hits to
  covered token positions, and merge them into maximal per-document
  spans (the regions an exact-substring dedup pass would cut).

Scale notes (100 TB shapes):
- Both operators key every shuffle on a 60-bit md5-slice hash of the
  line / gram (``dedup._md5_long``) — uniform keys, and the frequency
  side is reduced to (hash, count) BEFORE the join back, so nothing
  corpus-scale is broadcast and the join is co-keyed on both sides.
- Reassembly order does not rely on ``collect_list`` arrival order:
  lines are collected as (line_no, line) structs and ``array_sort``-ed
  — deterministic under any partial-aggregation schedule.
- Span coverage fan-out is bounded by ``k`` (each duplicated gram
  expands to exactly ``k`` positions) and collapses through a
  ``distinct`` on (doc, pos) before the island window, so the window
  input is at most the token count of the duplicated regions.
- The island merge (consecutive covered positions -> one span) is the
  classic ``pos - row_number()`` grouping: one window partitioned by
  document — no global window anywhere.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.functions.textstats import norm_tokens, zs_trim
from demy_spark.operators.dedup import _md5_long
from demy_spark.session import keep

__all__ = ["line_dedup", "duplicated_spans", "strip_duplicated_spans"]


def line_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = "\n",
    max_docs: int = 1,
) -> DataFrame:
    """Remove lines that appear in more than ``max_docs`` distinct
    documents; returns one row per document that has at least one
    non-blank line (documents consisting solely of blank lines carry
    no content and drop out with them), with the cleaned text and
    removal counters.

    A "line" is a ``delim``-separated segment; its identity is the
    trimmed, lowercased form (hashed to 60 bits for the shuffle key).
    Blank lines are dropped from the output unconditionally (they
    carry no content and would otherwise dominate every frequency
    bucket).

    Output columns: ``id_col``, ``text_clean`` (kept lines re-joined
    with ``delim``), ``n_lines`` (non-blank input lines), ``n_removed``
    (lines stripped as boilerplate), ``chars_removed`` (characters of
    the stripped lines, pre-normalization).
    """
    lines = docs.select(
        F.col(id_col).alias("_id_"),
        F.posexplode(F.split(F.col(text_col), re.escape(delim), -1)).alias(
            "_ln_", "_line_"
        ),
    )
    # zs_trim, not F.trim: the q96 oracle trims with DuckDB's default
    # trim, whose edge set is the full Unicode Zs class (incl. \xa0).
    # The trimmed-lowered form is materialized ONCE per line — it
    # drives both the blank filter and the identity hash (trim
    # emptiness is case-insensitive, so filtering on the lowered form
    # is equivalent)
    keyed = (
        lines.withColumn("_t_", zs_trim(F.lower(F.col("_line_"))))
        .where(F.col("_t_") != "")
        .withColumn("_h_", _md5_long(F.col("_t_"), 1))
        .drop("_t_")
    )
    # line document-frequency, reduced to (hash, flag) before the join:
    # partial aggregation makes this map-side combinable, and the join
    # back is co-keyed on the same uniform 60-bit hash.
    boiler = (
        keyed.groupBy("_h_")
        .agg(F.countDistinct("_id_").alias("_df_"))
        .where(F.col("_df_") > max_docs)
        .select("_h_", F.lit(True).alias("_rm_"))
    )
    marked = keyed.join(boiler, "_h_", "left").select(
        "_id_",
        "_ln_",
        "_line_",
        F.coalesce(F.col("_rm_"), F.lit(False)).alias("_rm_"),
    )
    kept_struct = F.when(
        ~F.col("_rm_"), F.struct(F.col("_ln_"), F.col("_line_"))
    )
    return (
        marked.groupBy("_id_")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_if(F.col("_rm_")).alias("n_removed"),
            F.coalesce(
                F.sum(F.when(F.col("_rm_"), F.length("_line_"))), F.lit(0)
            ).alias("chars_removed"),
            # order-independent reassembly: sort the (line_no, line)
            # structs, then join — collect_list arrival order never
            # reaches the output
            F.concat_ws(
                delim,
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("_line_"),
                ),
            ).alias("text_clean"),
        )
        .select(
            F.col("_id_").alias(id_col),
            "text_clean",
            "n_lines",
            "n_removed",
            "chars_removed",
        )
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Maximal per-document token spans covered by ``k``-grams whose
    total occurrence count across the corpus reaches ``min_count``.

    Tokens are the single-space-split, lowercased words (the
    ``textstats.norm_tokens`` oracle contract); positions are 0-based. A repeated gram at position ``p`` covers positions
    ``[p, p+k-1]``; overlapping / adjacent covered positions merge
    into one span. Within-document repeats count toward
    ``min_count`` (matching exact-substring dedup semantics, where a
    document repeating its own phrase is still a duplicate).

    Output: one row per span — ``id_col``, ``span_start``,
    ``span_end`` (inclusive), ``span_tokens``.
    """
    covered = _covered_positions(
        _token_rows(docs, id_col, text_col), k=k, min_count=min_count
    )
    wi = Window.partitionBy("_id_").orderBy("_cov_")
    islands = covered.withColumn(
        "_grp_", F.col("_cov_") - F.row_number().over(wi)
    )
    return (
        islands.groupBy("_id_", "_grp_")
        .agg(
            F.min("_cov_").alias("span_start"),
            F.max("_cov_").alias("span_end"),
            F.count(F.lit(1)).alias("span_tokens"),
        )
        .select(
            F.col("_id_").alias(id_col), "span_start", "span_end", "span_tokens"
        )
    )


def _token_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id_, _pos_, _w_) exploded tokens under the single-space
    oracle-contract normalization (textstats.norm_tokens)."""
    return docs.select(
        F.col(id_col).alias("_id_"),
        F.posexplode(norm_tokens(F.col(text_col))).alias("_pos_", "_w_"),
    )


def _covered_positions(
    t: DataFrame, *, k: int, min_count: int
) -> DataFrame:
    """(_id_, _cov_) distinct token positions covered by corpus-repeated
    k-grams, from a ``_token_rows`` frame — the shared discovery stage
    of ``duplicated_spans`` and ``strip_duplicated_spans`` (the latter
    passes the same frame to its strip join, so the corpus tokenizes
    once)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy("_id_").orderBy("_pos_")
    parts = [F.col("_w_")] + [F.lead("_w_", j).over(w) for j in range(1, k)]
    grams = t.select(
        "_id_",
        "_pos_",
        _md5_long(
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)), 1
        ).alias("_h_"),
    ).where(F.col("_h_").isNotNull())
    hot = (
        grams.groupBy("_h_")
        .agg(F.count(F.lit(1)).alias("_n_"))
        .where(F.col("_n_") >= min_count)
        .select("_h_")
    )
    return (
        grams.join(hot, "_h_", "left_semi")
        .select(
            "_id_",
            F.explode(
                F.sequence(F.col("_pos_"), F.col("_pos_") + F.lit(k - 1))
            ).alias("_cov_"),
        )
        .distinct()
    )


def strip_duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Cut the duplicated spans out of every document — the apply step
    of exact-substring dedup (Lee et al.): tokens covered by a
    corpus-repeated ``k``-gram are removed and the survivors re-joined
    with single spaces in original order.

    Every document with at least one token survives in the output,
    even when the strip removes everything (empty ``text_clean``);
    token-less documents drop out with their tokens. Output:
    ``id_col``, ``text_clean``, ``n_tokens`` (pre-strip),
    ``tokens_removed``.

    Scale shape: coverage discovery is ``_covered_positions`` (one
    gram-count shuffle + a co-keyed semi-join, fan-out bounded by
    ``k``); the strip itself marks tokens with ONE co-keyed left join
    on (doc, position) and reassembles through the same
    ``array_sort(collect_list(struct))`` trick as ``line_dedup`` —
    order-independent under any partial-aggregation schedule, no
    per-document window.
    """
    # one tokenize+explode scan feeds BOTH the coverage discovery and
    # the strip join (persisted: two DAG branches consume it)
    t = keep(_token_rows(docs, id_col, text_col))
    # renamed output columns: covered derives from t, so keeping _id_
    # would make the join a self-join with ambiguous attributes
    covered = _covered_positions(t, k=k, min_count=min_count).select(
        F.col("_id_").alias("_cid_"),
        F.col("_cov_").alias("_cpos_"),
        F.lit(True).alias("_rm_"),
    )
    marked = t.join(
        covered,
        (F.col("_id_") == F.col("_cid_")) & (F.col("_pos_") == F.col("_cpos_")),
        "left",
    ).select(
        "_id_",
        "_pos_",
        "_w_",
        F.coalesce(F.col("_rm_"), F.lit(False)).alias("_rm_"),
    )
    kept_struct = F.when(~F.col("_rm_"), F.struct(F.col("_pos_"), F.col("_w_")))
    return (
        marked.groupBy("_id_")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("_rm_")).alias("tokens_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("_w_"),
                ),
            ).alias("text_clean"),
        )
        .select(
            F.col("_id_").alias(id_col),
            "text_clean",
            "n_tokens",
            "tokens_removed",
        )
    )
