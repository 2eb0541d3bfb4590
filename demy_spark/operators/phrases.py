"""Iterative phrase-pair merging (word2phrase-style collocation
mining): repeatedly merge the corpus-wide most frequent adjacent token
pair into a single phrase token.

The canonical preprocessing step in the word2vec lineage (the
reference trains Word2Vec — `mllib/src/main/scala/text/Word2VecApplier.scala`
— on whitespace tokens; phrase merging is how `new york` becomes the
single token `new@@york` before training). It is also the word-level
skeleton of BPE tokenizer training: count adjacent pairs, merge the
argmax, repeat.

Design (both engines of the oracle gate replay it bit-for-bit):
- Training is EAGER and the per-iteration argmax IS a driver-side
  collect of exactly ONE row — a single ``min_by`` aggregation over a
  struct ordering key (count desc, pair asc) whose winning pair is
  bound back into the next round's plan as literals. Dictionary-sized
  driver state (one (w1, w2, count) triple per round), same contract
  as the tuning thresholds; the earlier all-in-plan formulation cost
  ~7 jobs/round vs 2 and re-executed every argmax on output
  evaluation (PLANS.md round-5). Each round truncates lineage with
  ``localCheckpoint`` (or, when ``checkpoint_dir`` is passed, a
  parquet write and re-read through ``io.checkpoint``), so plans stay
  bounded.
- Merges apply left-to-right without overlap. For a self-adjacent
  pair (w,w) inside a run of equal tokens, the classic convention is
  to merge greedily from the run's start — position parity inside the
  matched-run island decides (for w1 != w2, two adjacent positions
  can never both match, so islands are singletons and the parity rule
  keeps everything — one uniform code path).
- After each merge the row domain is re-compacted with a per-document
  row_number, which both engines compute identically.

Scale notes: per iteration — one pair-count aggregation (map-side
combined, shuffle carries (pair, count) rows), a one-row ``min_by``
argmax collected to the driver (one (w1, w2, count) triple per round
of driver state), and per-document windows over the token stream; no
global window, no array materialization of the corpus. Cost is
O(iterations × corpus tokens); real tokenizer training runs a bounded
iteration count by construction.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from demy_spark.functions.textstats import norm_tokens
from demy_spark.io import checkpoint, local_frame
from demy_spark.session import aqe_disabled, keep

__all__ = ["apply_merges", "bpe_encode", "bpe_train", "phrase_merges"]


def _run_dir(checkpoint_dir: str | None) -> str | None:
    """This call's own directory under ``checkpoint_dir``: two calls
    that share one never overwrite the rounds the other's returned
    frame still reads."""
    return None if checkpoint_dir is None else f"{checkpoint_dir}/{uuid.uuid4().hex}"


def _truncate(t: DataFrame, run_dir: str | None, rnd: int) -> DataFrame:
    """Cut a round's lineage: a lazy ``localCheckpoint`` (executor-local
    blocks), or with a ``run_dir`` a reliable one — ``io.checkpoint``
    writes the round as parquet under ``run_dir/rnd`` now and re-reads
    it, then deletes round ``rnd - 1``, which was read only to write
    this one (rounds are numbered 1, 2, ... per call). The deletion
    goes through the Hadoop FileSystem API, so it reaches any
    ``checkpoint_dir`` scheme Spark writes to. The session's checkpoint
    directory is never touched."""
    if run_dir is None:
        return t.localCheckpoint(eager=False)
    out = checkpoint(t, f"{run_dir}/{rnd}", reuse_existing=False)
    if rnd > 1:
        spark = out.sparkSession
        prev = spark._jvm.org.apache.hadoop.fs.Path(f"{run_dir}/{rnd - 1}")
        prev.getFileSystem(spark._jsc.hadoopConfiguration()).delete(prev, True)
    return out


def _argmax_pair(counts: DataFrame):
    """Collect the winning (``_w_``, ``_wn_``, ``_cnt_``) row: highest
    count, ties to the lexicographically smallest pair. ONE job — a
    single-row ``min_by`` aggregation over a struct ordering key
    (count negated so struct-lexicographic min = count-desc,
    pair-asc), never ``orderBy().limit(1).first()``, whose
    CollectLimit partition ramp-up costs 3-4 jobs per call (measured
    in PLANS.md round-5). Returns None when ``counts`` is empty."""
    row = counts.select(
        F.min_by(
            F.struct("_w_", "_wn_", "_cnt_"),
            F.struct(
                (-F.col("_cnt_")).alias("_o1_"),
                F.col("_w_").alias("_o2_"),
                F.col("_wn_").alias("_o3_"),
            ),
        ).alias("_best_")
    ).first()
    return row["_best_"] if row is not None else None


def _merge_pass(
    cand: DataFrame,
    joiner: str,
    wdoc: Window,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """One left-to-right non-overlapping merge application. ``cand``
    carries (_id_, _p_, _w_, _wn_, _w1_, _w2_) — the token stream with
    its lead token and the pair to merge (NULL pair = no-op round).
    Returns the re-compacted stream (_id_, _p_, _w_). Shared by the
    training loop (argmax pair) and ``apply_merges`` (given pair) so
    the two can never drift. ``extra`` names per-``_id_``-constant
    passenger columns carried through unchanged (bpe_train rides the
    word frequency in-row so no round ever joins it back — r14,
    guide §2.3/§2.4)."""
    cand = cand.withColumn(
        "_m_",
        # isNotNull FIRST (false & NULL = false): the doc-final
        # token has a NULL lead, and a sentinel/no-op round has NULL
        # _w1_ — either would otherwise poison the keep/gone chain
        F.col("_w1_").isNotNull()
        & F.col("_wn_").isNotNull()
        & (F.col("_w_") == F.col("_w1_"))
        & (F.col("_wn_") == F.col("_w2_")),
    )
    # left-to-right non-overlap: inside each island of consecutive
    # matched positions, keep every other match starting from the
    # island head (only self-adjacent pairs form islands > 1).
    # Every step runs over wdoc's partitioning — an island head is a
    # match whose predecessor didn't match, the island start is the
    # latest head position so far (running max), and keep alternates
    # on parity from the start. The earlier gaps-and-islands
    # formulation (row_number per (_id_, _m_) + min per (_id_, _isl_))
    # computed the same thing with THREE window partitionings = three
    # exchanges per round; this is ONE (PLANS.md round-5 job audit).
    running = wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand = cand.withColumn(
        "_head_", F.col("_m_") & ~F.lag("_m_", 1, False).over(wdoc)
    ).withColumn(
        "_start_",
        F.max(F.when(F.col("_head_"), F.col("_p_"))).over(running),
    )
    cand = cand.withColumn(
        "_keep_",
        F.col("_m_") & (((F.col("_p_") - F.col("_start_")) % 2) == 0),
    )
    # a position is dropped when the PREVIOUS position merged it
    cand = cand.withColumn("_gone_", F.lag("_keep_", 1, False).over(wdoc))
    emitted = cand.where(~F.col("_gone_")).select(
        "_id_",
        "_p_",
        F.when(
            F.col("_keep_"),
            F.concat_ws(joiner, F.col("_w_"), F.col("_wn_")),
        )
        .otherwise(F.col("_w_"))
        .alias("_w_"),
        *extra,
    )
    # re-compact positions so the next round's lead() sees adjacency
    # across the merge (row domain, same as the oracle)
    return emitted.select(
        "_id_",
        (F.row_number().over(wdoc) - 1).alias("_p_"),
        "_w_",
        *extra,
    )


def phrase_merges(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    iterations: int = 3,
    joiner: str = "@@",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iterations`` greedy pair merges over the corpus.

    Returns ``(merges, tokens)``:
    - ``merges`` — one row per iteration: (iteration, w1, w2,
      pair_count, tokens_after); ties on pair_count break to the
      lexicographically smallest (w1, w2). A round that finds no
      adjacent pair anywhere (pair-exhausted corpus) emits an
      all-NULL merge row and leaves the stream unchanged.
    - ``tokens`` — the final token stream (``id_col``, pos, token)
      with merged phrases joined by ``joiner``.

    Lineage per round is truncated with ``localCheckpoint`` by
    default — fast (executor-local blocks), but UNRECOVERABLE on
    executor loss: a lost executor fails the job instead of
    recomputing. Fine for short interactive runs; for long
    many-iteration production runs pass ``checkpoint_dir`` (an
    HDFS-compatible path) and each round is written as parquet under
    ``checkpoint_dir/<call id>/<round>`` and re-read
    (``io.checkpoint``) — slower (one write per round, and the next
    round re-shuffles the stream by document) but survives executor
    loss. Only the last round stays on disk: each round's directory is
    deleted once the next one is written. The session's checkpoint
    directory is left as it was.

    The call is EAGER: rounds are inherently sequential (each round's
    pair depends on the previous round's stream), so the training
    loop runs its Spark jobs inside this function — each round is a
    single-row ``min_by`` argmax collected to the driver (``_argmax_pair``:
    dictionary-sized driver state, same contract as the tuning
    thresholds) plus the round's count, and the returned ``merges``
    frame is literal rows. The earlier all-in-plan formulation
    re-executed every round's argmax when the output was evaluated and
    paid a broadcast-materialization job per round (~7 jobs/round vs
    2 — measured in PLANS.md round-5); the collected row also lets a
    pair-exhausted corpus stop scheduling work for the remaining
    rounds entirely.

    AQE is off session-wide while the loop runs: ``session.aqe_disabled``
    states the cost and how to insulate other queries.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    spark = docs.sparkSession
    run_dir = _run_dir(checkpoint_dir)
    with aqe_disabled(spark):
        t = docs.select(
            F.col(id_col).alias("_id_"),
            F.posexplode(norm_tokens(F.col(text_col))).alias("_p_", "_w_"),
        )
        merge_rows: list[tuple] = []
        wdoc = Window.partitionBy("_id_").orderBy("_p_")
        tokens_after: int | None = None
        exhausted = False
        for it in range(1, iterations + 1):
            if not exhausted:
                paired = t.withColumn("_wn_", F.lead("_w_").over(wdoc))
                best = _argmax_pair(
                    paired.where(F.col("_wn_").isNotNull())
                    .groupBy("_w_", "_wn_")
                    .agg(F.count(F.lit(1)).alias("_cnt_"))
                )
                if best is None:
                    # pair-exhausted corpus: this and every later
                    # round is a no-op (an unchanged stream can never
                    # grow new pairs) — emit all-NULL merge rows and
                    # schedule nothing more
                    exhausted = True
                    tokens_after = t.count()
                else:
                    # truncate the per-round lineage: without it
                    # later rounds re-execute every earlier round's
                    # window chain (measured 2.5× wall at 10× data),
                    # and the plan depth grows per iteration
                    t = _merge_pass(
                        paired.withColumns(
                            {
                                "_w1_": F.lit(best["_w_"]),
                                "_w2_": F.lit(best["_wn_"]),
                            }
                        ),
                        joiner,
                        wdoc,
                    )
                    t = _truncate(t, run_dir, it)
                    # the count doubles as the round's local
                    # checkpoint materialization barrier
                    tokens_after = t.count()
                    merge_rows.append(
                        (it, best["_w_"], best["_wn_"], best["_cnt_"], tokens_after)
                    )
                    continue
            merge_rows.append((it, None, None, None, tokens_after))
    merges = local_frame(
        spark,
        merge_rows,
        "iteration int, w1 string, w2 string, pair_count long, tokens_after long",
    )
    tokens = t.select(
        F.col("_id_").alias(id_col),
        F.col("_p_").alias("pos"),
        F.col("_w_").alias("token"),
    )
    return merges, tokens


def apply_merges(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    joiner: str = "@@",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply a LEARNED merge list to a corpus — the serving half of
    the word2phrase/BPE pair: ``phrase_merges`` trains the ranked
    pair list once on the big corpus; this applies it to any stream
    (new crawls, inference-time text) in rank order, one
    left-to-right non-overlapping pass per merge, exactly the
    tokenizer-apply convention. Merged tokens participate in later
    merges (("a","b") then ("a@@b","c") chains).

    Returns the rewritten token stream (``id_col``, pos, token).
    ``merges`` is driver-side but tokenizer-sized by contract (BPE
    vocabularies are 10k-100k pairs; each pair becomes two literals
    in the plan — for very long lists, batch the calls). Same
    per-round lineage-truncation contract as ``phrase_merges``
    (``checkpoint_dir`` for reliable checkpoints on long runs). With
    ``checkpoint_dir`` the rounds are written during this call, not at
    the caller's first action; without it the result stays lazy.
    """
    t = docs.select(
        F.col(id_col).alias("_id_"),
        F.posexplode(norm_tokens(F.col(text_col))).alias("_p_", "_w_"),
    )
    wdoc = Window.partitionBy("_id_").orderBy("_p_")
    t = _replay_merges(t, list(merges), joiner, wdoc, checkpoint_dir)
    return t.select(
        F.col("_id_").alias(id_col),
        F.col("_p_").alias("pos"),
        F.col("_w_").alias("token"),
    )


def _char_rows(
    df: DataFrame, end_of_word: str, *, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(_id_, *carry, _p_, _w_) rows: each word string (its own id)
    exploded to characters plus the end-of-word marker. Shared by
    train and the encode OOV replay so the split can never drift.
    ``carry`` columns of ``df`` ride along per char row (bpe_train
    carries the word frequency so no round joins it back).

    The empty-pattern split is the ONLY Spark char split that is
    codepoint-correct: a lookahead split (`(?!^)`) advances by UTF-16
    code UNIT and shears astral chars (emoji, CJK extensions) into
    lone surrogates, silently diverging from DuckDB's
    `string_split(s, '')` — found by the char-split contract fuzz
    (`test_char_split_contract_fuzz`). Requires Spark >= 3.4: before
    SPARK-40194, split(s, '') also emitted a trailing empty element
    (the fuzz pins the running version's behavior)."""
    chars = F.concat(F.split(F.col("_id_"), ""), F.array(F.lit(end_of_word)))
    return df.select("_id_", *carry, F.posexplode(chars).alias("_p_", "_w_"))


def _replay_merges(
    t: DataFrame,
    merge_list: list[tuple[str, str]],
    joiner: str,
    wdoc: Window,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply a FROZEN merge list in rank order — one _merge_pass round
    per pair, lineage truncated per round (``_truncate``). Shared by
    ``apply_merges`` (word level) and ``bpe_encode`` (char level)."""
    run_dir = _run_dir(checkpoint_dir)
    for rnd, (w1, w2) in enumerate(merge_list, 1):
        paired = t.withColumn("_wn_", F.lead("_w_").over(wdoc)).withColumns(
            {"_w1_": F.lit(w1), "_w2_": F.lit(w2)}
        )
        t = _truncate(_merge_pass(paired, joiner, wdoc), run_dir, rnd)
    return t


def _assemble_symbols(t: DataFrame) -> DataFrame:
    """(_id_, symbols): position-ordered symbol arrays from the
    (_id_, _p_, _w_) row stream."""
    return t.groupBy("_id_").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p_", "_w_"))),
            lambda s: s["_w_"],
        ).alias("symbols")
    )


def bpe_train(
    docs: DataFrame,
    text_col: str,
    *,
    merges: int = 8,
    end_of_word: str = "</w>",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Char-level, frequency-weighted BPE training (Sennrich et al.
    2016) — the REAL tokenizer-training step (``phrase_merges`` is its
    word-level skeleton): words split into characters plus an
    end-of-word marker, and each round merges the adjacent symbol
    pair with the highest CORPUS frequency (word-type pair count
    weighted by word frequency; ties to the lexicographically
    smallest pair).

    Returns ``(merge_table, vocab_symbols)``:
    - ``merge_table`` — (rank, sym1, sym2, pair_freq): the frozen
      artifact a tokenizer ships; a pair-exhausted round emits an
      all-NULL row (same sentinel contract as ``phrase_merges``).
    - ``vocab_symbols`` — (word, freq, symbols array) after all
      merges: the encode table (broadcast-join it against a token
      stream to tokenize a corpus).

    Scale shape — the property that makes BPE trainable on a 100 TB
    corpus: the ONLY corpus-sized work is one token reduction to the
    (word, freq) vocabulary table; every training round then operates
    on vocabulary-sized frames (chars-per-word rows), reusing the
    exact ``_merge_pass`` machinery of the word-level trainer (merged
    symbols participate in later rounds; left-to-right non-overlap via
    parity islands — self-adjacent pairs like ('a','a') in 'aaa'
    merge greedily from the left, the reference BPE convention).
    Per-round lineage truncates with localCheckpoint, or a RELIABLE
    parquet checkpoint under ``checkpoint_dir`` when it is set (see
    ``phrase_merges``) — real tokenizer runs are 10k-100k rounds,
    exactly the executor-loss exposure the word-level twins document.

    Like ``phrase_merges``, the call is EAGER with a driver-side
    1-row argmax per round (rounds are inherently sequential;
    2 jobs/round instead of ~7, pair-exhausted corpora stop
    scheduling entirely, and ``merge_table`` is literal rows that
    never re-execute training). AQE is off session-wide while the
    loop runs (``session.aqe_disabled``).
    """
    if merges < 1:
        raise ValueError(f"merges must be >= 1, got {merges}")
    spark = docs.sparkSession
    run_dir = _run_dir(checkpoint_dir)
    with aqe_disabled(spark):
        vocab = (
            docs.select(F.explode(norm_tokens(F.col(text_col))).alias("_id_"))
            .groupBy("_id_")
            .agg(F.count(F.lit(1)).alias("_freq_"))
        )
        # the word string is its own id: unique by construction, and
        # the per-word windows partition on it directly. The word
        # frequency rides IN-ROW on the char stream (r14, guide
        # §2.3/§2.4): the old shape joined the persisted (word, freq)
        # table back into EVERY round's pair-count aggregation — one
        # exchange + sort of the freq side per round for a value that
        # is constant per word. Carried as a passenger column, a round
        # is exactly one groupBy exchange + the argmax.
        freqs = keep(vocab)
        t = _char_rows(freqs, end_of_word, carry=("_freq_",)).localCheckpoint(
            eager=False
        )
        wdoc = Window.partitionBy("_id_").orderBy("_p_")
        merge_rows: list[tuple] = []
        exhausted = False
        for rank in range(1, merges + 1):
            best = None
            if not exhausted:
                paired = t.withColumn("_wn_", F.lead("_w_").over(wdoc))
                best = _argmax_pair(
                    paired.where(F.col("_wn_").isNotNull())
                    .groupBy("_w_", "_wn_")
                    .agg(F.sum("_freq_").alias("_cnt_"))
                )
                exhausted = best is None
            if best is None:
                # all-NULL sentinel rows, same contract as
                # phrase_merges — no jobs scheduled for dead rounds
                merge_rows.append((rank, None, None, None))
                continue
            t = _merge_pass(
                paired.withColumns(
                    {"_w1_": F.lit(best["_w_"]), "_w2_": F.lit(best["_wn_"])}
                ),
                "",
                wdoc,
                extra=("_freq_",),
            )
            t = _truncate(t, run_dir, rank)
            merge_rows.append((rank, best["_w_"], best["_wn_"], best["_cnt_"]))
    merge_table = local_frame(
        spark, merge_rows, "rank int, sym1 string, sym2 string, pair_freq long"
    )
    vocab_symbols = (
        _assemble_symbols(t)
        .join(freqs, "_id_")
        .select(
            F.col("_id_").alias("word"), F.col("_freq_").alias("freq"), "symbols"
        )
    )
    return merge_table, vocab_symbols


def bpe_encode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_symbols: DataFrame,
    merge_list: list[tuple[str, str]] | None = None,
    *,
    end_of_word: str = "</w>",
) -> DataFrame:
    """Tokenize a corpus with a TRAINED BPE model (``bpe_train``
    output): every word joins the broadcast ``vocab_symbols`` table —
    O(1) per occurrence, the production encode path — and
    out-of-vocabulary words fall back to replaying ``merge_list`` (the
    frozen merge table as (sym1, sym2) pairs in rank order) over their
    characters, exactly what a real BPE tokenizer does for unseen
    words. With ``merge_list=None`` OOV words stay as raw characters +
    marker.

    Returns (``id_col``, pos, word, symbols array<string>) — one row
    per word occurrence, positions from the norm_tokens stream.

    Scale shape: the vocab table is tokenizer-sized (bounded by the
    training corpus vocabulary) and broadcast; the corpus-sized
    joined frame is persisted because THREE branches consume it (hit
    branch, OOV-word discovery, OOV recovery join — the same
    multiple-consumer shape minhash_probe persists for); the OOV
    replay itself only ever sees word TYPES absent from the vocab (an
    anti-join-sized residue) exploded to characters and merged with
    the training ``_merge_pass`` rounds via the shared
    ``_replay_merges``. Everything stays lazy — no driver-side
    emptiness probe; an all-in-vocabulary corpus simply yields an
    empty OOV branch in the same plan.
    """
    words = docs.select(
        F.col(id_col).alias("_did_"),
        F.posexplode(norm_tokens(F.col(text_col))).alias("_p_", "_word_"),
    )
    vocab = F.broadcast(
        vocab_symbols.select(F.col("word").alias("_word_"), "symbols")
    )
    joined = keep(words.join(vocab, "_word_", "left"))
    hit = joined.where(F.col("symbols").isNotNull())
    miss = joined.where(F.col("symbols").isNull()).select("_did_", "_p_", "_word_")
    out_cols = [
        F.col("_did_").alias(id_col),
        F.col("_p_").alias("pos"),
        F.col("_word_").alias("word"),
        "symbols",
    ]
    # OOV fallback: distinct unseen word TYPES, char-exploded, the
    # frozen merges replayed in rank order (shared _replay_merges)
    oov = miss.select(F.col("_word_").alias("_id_")).distinct()
    t = _char_rows(oov, end_of_word)
    wdoc = Window.partitionBy("_id_").orderBy("_p_")
    t = _replay_merges(t, merge_list or [], "", wdoc)
    oov_syms = _assemble_symbols(t)
    recovered = miss.join(
        F.broadcast(oov_syms.select(F.col("_id_").alias("_word_"), "symbols")),
        "_word_",
    )
    return hit.select(*out_cols).unionByName(recovered.select(*out_cols))
