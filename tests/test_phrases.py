from __future__ import annotations

import os

import pytest

from demy_spark.operators.phrases import apply_merges, phrase_merges


def test_apply_merges_replays_training(spark):
    """Applying the merge list phrase_merges learned reproduces the
    trained token stream exactly — the train/apply pair can't drift
    (they share _merge_pass)."""
    rows = [
        (1, "new york is big new york is old"),
        (2, "in new york new york wins"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, trained = phrase_merges(docs, "doc_id", "text", iterations=2)
    pairs = [
        (r["w1"], r["w2"])
        for r in merges.orderBy("iteration").collect()
        if r["w1"] is not None
    ]
    applied = apply_merges(docs, "doc_id", "text", pairs)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(applied) == key(trained)


def test_apply_merges_chains_and_noops(spark):
    docs = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    out = apply_merges(
        docs, "doc_id", "text", [("a", "b"), ("a@@b", "c"), ("zz", "qq")]
    )
    toks = [r["token"] for r in out.orderBy("pos").collect()]
    assert toks == ["a@@b@@c", "a@@b"]  # chained merge; unknown pair no-ops
    # empty merge list is the identity
    same = apply_merges(docs, "doc_id", "text", [])
    assert [r["token"] for r in same.orderBy("pos").collect()] == [
        "a", "b", "c", "a", "b",
    ]


def _run(spark, rows, iterations=3):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, tokens = phrase_merges(docs, "doc_id", "text", iterations=iterations)
    m = [
        (r["iteration"], r["w1"], r["w2"], r["pair_count"], r["tokens_after"])
        for r in merges.orderBy("iteration").collect()
    ]
    t = {
        d: [
            r["token"]
            for r in sorted(rows_t, key=lambda r: r["pos"])
        ]
        for d, rows_t in _group(tokens.collect())
    }
    return m, t


def _group(rows):
    out: dict = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append(r)
    return out.items()


def test_phrase_merges_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches per-round lineage truncation from
    executor-local blocks to a reliable checkpoint that survives
    executor loss — results identical either way."""
    rows = [(1, "new york is big new york is old")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, tokens = phrase_merges(
        docs, "doc_id", "text", iterations=2, checkpoint_dir=str(tmp_path / "ckpt")
    )
    got = [(r["w1"], r["w2"]) for r in merges.orderBy("iteration").collect()]
    assert got == [("new", "york"), ("new@@york", "is")]
    assert tokens.count() == 4
    # the reliable checkpoint actually wrote to the requested dir
    assert any(os.scandir(tmp_path / "ckpt"))


def _set_ckpt_field(sc, value) -> None:
    # PySpark has no unset: the JVM field's setter is the only way back
    # to "no directory" on the shared test session
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(value)


@pytest.fixture
def ckpt_states(spark, tmp_path):
    """Session checkpoint-dir states to run under: unset, then a prior
    directory. Yields a generator that moves the session to each state
    and yields ``getCheckpointDir()`` there; the test's starting state
    is back afterwards."""
    sc = spark.sparkContext
    prev = sc._jsc.sc().checkpointDir()

    def states():
        _set_ckpt_field(sc, sc._jvm.scala.Option.empty())
        yield sc.getCheckpointDir()
        sc.setCheckpointDir(str(tmp_path / "prior"))
        yield sc.getCheckpointDir()

    yield states()
    _set_ckpt_field(sc, prev)


def _round_dirs(root):
    """{call dir: sorted round numbers} of the round directories left
    under a ``checkpoint_dir``; each one left must be a complete
    parquet write."""
    rounds = {
        call: sorted(int(r) for r in os.listdir(root / call))
        for call in sorted(os.listdir(root))
    }
    for call, rnds in rounds.items():
        assert all((root / call / str(r) / "_SUCCESS").exists() for r in rnds)
    return rounds


def test_training_restores_session_checkpoint_dir_and_aqe(spark, tmp_path, ckpt_states):
    """Trainers with a checkpoint_dir write their rounds under it, keep
    only the last one, and never move the session checkpoint dir: unset
    stays unset, a prior dir stays byte-identical. AQE is back, and the
    results match the localCheckpoint path."""
    from demy_spark.operators.phrases import bpe_train

    sc = spark.sparkContext
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    docs = spark.createDataFrame([(1, "ab ab new york new york")], "doc_id long, text string")
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    plain_bpe = [key(f) for f in bpe_train(docs, "text", merges=2)]
    plain_pm = [key(f) for f in phrase_merges(docs, "doc_id", "text", iterations=2)]
    for i, before in enumerate(ckpt_states):
        bpe_dir, pm_dir = tmp_path / f"bpe{i}", tmp_path / f"pm{i}"
        got_bpe = bpe_train(docs, "text", merges=2, checkpoint_dir=str(bpe_dir))
        got_pm = phrase_merges(docs, "doc_id", "text", iterations=2, checkpoint_dir=str(pm_dir))
        assert [key(f) for f in got_bpe] == plain_bpe
        assert [key(f) for f in got_pm] == plain_pm
        assert sc.getCheckpointDir() == before
        assert list(_round_dirs(bpe_dir).values()) == [[2]]
        assert list(_round_dirs(pm_dir).values()) == [[2]]
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before


def test_training_checkpoint_restore_does_not_nest(spark, tmp_path, ckpt_states):
    """Three trainer calls into one checkpoint_dir: the session's prior
    dir is byte-identical afterwards (no restore, so no fresh UUID
    component and no nesting), and each call wrote its rounds into
    its own subdirectory."""
    from demy_spark.operators.phrases import bpe_train

    sc = spark.sparkContext
    next(ckpt_states)  # unset
    prior = next(ckpt_states)
    assert prior is not None
    docs = spark.createDataFrame([("ab ab",)], "text string")
    mine = tmp_path / "mine"
    for _ in range(3):
        bpe_train(docs, "text", merges=1, checkpoint_dir=str(mine))
    assert sc.getCheckpointDir() == prior
    assert list(_round_dirs(mine).values()) == [[1], [1], [1]]


def test_apply_merges_restores_session_checkpoint_dir(spark, tmp_path, ckpt_states):
    """apply_merges(checkpoint_dir=...) writes its rounds under the
    requested dir during the call, keeps only the last one, and leaves
    the session checkpoint dir as it found it, unset or set."""
    sc = spark.sparkContext
    docs = spark.createDataFrame([(1, "new york new york")], "doc_id long, text string")
    for i, before in enumerate(ckpt_states):
        mine = tmp_path / f"mine{i}"
        for _ in range(2):
            out = apply_merges(
                docs, "doc_id", "text", [("new", "york"), ("zz", "qq")],
                checkpoint_dir=str(mine),
            )
            assert [r["token"] for r in out.orderBy("pos").collect()] == [
                "new@@york",
                "new@@york",
            ]
        assert sc.getCheckpointDir() == before
        assert list(_round_dirs(mine).values()) == [[2], [2]]


def test_concurrent_apply_merges_keep_their_own_checkpoint_dirs(spark, tmp_path):
    """Two apply_merges calls at once, each with its own checkpoint_dir:
    each returns its own tokens, writes only under its own dir, and
    the session checkpoint dir does not move."""
    import threading

    sc = spark.sparkContext
    cases = {
        "a": ("new york is big new york", [("new", "york"), ("new@@york", "is")],
              ["new@@york@@is", "big", "new@@york"]),
        "b": ("a b c a b c", [("b", "c"), ("a", "b@@c")], ["a@@b@@c", "a@@b@@c"]),
    }
    before = sc.getCheckpointDir()
    start = threading.Barrier(len(cases))
    got: dict = {}

    def run(name: str) -> None:
        text, merges, _ = cases[name]
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        start.wait(timeout=60)
        try:
            out = apply_merges(docs, "doc_id", "text", merges, checkpoint_dir=str(tmp_path / name))
            got[name] = [r["token"] for r in out.orderBy("pos").collect()]
        except BaseException as exc:  # re-raised below
            got[name] = exc

    threads = [threading.Thread(target=run, args=(n,)) for n in cases]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert got == {name: want for name, (_, _, want) in cases.items()}
    assert sc.getCheckpointDir() == before
    for name in cases:
        rounds = _round_dirs(tmp_path / name)
        assert list(rounds.values()) == [[2]], (name, rounds)
        (call,) = rounds
        last = spark.read.parquet(str(tmp_path / name / call / "2"))
        assert sorted(r["_w_"] for r in last.collect()) == sorted(cases[name][2])


def test_phrase_merges_greedy_argmax_chain(spark):
    m, t = _run(
        spark,
        [
            (1, "new york is big new york is old"),
            (2, "in new york new york wins"),
        ],
    )
    # round 1: (new, york) x4; round 2: (new@@york, is) x2 —
    # merged tokens participate in later rounds
    assert m[0][:4] == (1, "new", "york", 4)
    assert m[1][:4] == (2, "new@@york", "is", 2)
    assert t[1][0] == "new@@york@@is"
    assert t[2][1] == "new@@york"


def test_phrase_merges_self_adjacent_run_parity(spark):
    # "a a a a a": pairs (a,a) x4; greedy left-to-right merges at
    # positions 0 and 2, leaving the odd tail unmerged
    m, t = _run(spark, [(1, "a a a a a")], iterations=1)
    assert m[0][:4] == (1, "a", "a", 4)
    assert t[1] == ["a@@a", "a@@a", "a"]


def test_phrase_merges_tie_breaks_lexicographic(spark):
    # (b c) and (a b)? craft equal counts: "b c" x2 and "x y" x2 —
    # tie on count 2 -> lexicographically smallest pair wins
    m, _ = _run(spark, [(1, "b c d b c"), (2, "x y z x y")], iterations=1)
    assert m[0][1:3] == ("b", "c")


def test_phrase_merges_token_count_bookkeeping(spark):
    m, t = _run(spark, [(1, "p q p q")], iterations=1)
    # 4 tokens, 2 merges -> 2 tokens after
    assert m[0][3] == 2 and m[0][4] == 2
    assert t[1] == ["p@@q", "p@@q"]


def test_phrase_merges_pair_exhaustion_is_noop(spark):
    # 2 tokens -> round 1 merges them; rounds 2-3 find NO pair and
    # must leave the stream intact (regression: the empty argmax
    # frame used to annihilate every token row)
    m, t = _run(spark, [(1, "a b")], iterations=3)
    assert t[1] == ["a@@b"]
    assert m[0][:4] == (1, "a", "b", 1)
    assert m[1][1] is None and m[1][2] is None and m[1][4] == 1
    assert m[2][1] is None and m[2][4] == 1


def test_bpe_train_textbook_example(spark):
    """The classic Sennrich worked example: corpus weighted toward
    'low/lower/newest/widest' merges ('e','s') then ('es','t') then
    ('est','</w>') first — frequency-weighted by WORD counts, not word
    types."""
    from demy_spark.operators.phrases import bpe_train

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    merge_table, vocab = bpe_train(docs, "text", merges=4)
    got = [
        (r["rank"], r["sym1"], r["sym2"], r["pair_freq"])
        for r in merge_table.orderBy("rank").collect()
    ]
    # ('e','s') in newest+widest = 9; then ('es','t') 9; ('est','</w>') 9;
    # then ('l','o') in low+lower = 7
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "est", "</w>", 9),
        (4, "l", "o", 7),
    ]
    syms = {r["word"]: (r["freq"], r["symbols"]) for r in vocab.collect()}
    assert syms["newest"] == (6, ["n", "e", "w", "est</w>"])
    assert syms["low"] == (5, ["lo", "w", "</w>"])
    assert syms["widest"] == (3, ["w", "i", "d", "est</w>"])
    assert syms["lower"] == (2, ["lo", "w", "e", "r", "</w>"])


def test_bpe_train_exhaustion_and_self_pairs(spark):
    """Pair-exhausted rounds emit NULL sentinel rows and leave symbols
    unchanged; a self-adjacent char pair merges greedily from the
    left (parity-island convention)."""
    from demy_spark.operators.phrases import bpe_train

    docs = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    merge_table, vocab = bpe_train(docs, "text", merges=5)
    rows = [
        (r["rank"], r["sym1"], r["sym2"]) for r in merge_table.orderBy("rank").collect()
    ]
    assert rows[0] == (1, "a", "a")          # aa from the left
    syms = vocab.collect()[0]["symbols"]
    # 'aaa</w>' -> ['aa','a','</w>'] -> merges continue until exhausted
    assert "".join(syms) == "aaa</w>"
    # exhausted tail rounds are all-NULL no-ops
    assert any(r[1] is None for r in rows)


def test_bpe_encode_roundtrip_and_oov(spark):
    """Encoding the training corpus via the vocab table reproduces the
    trained segmentation; OOV words replay the frozen merges over
    their characters (and concat back to the original word)."""
    from demy_spark.operators.phrases import bpe_encode, bpe_train

    train = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    merge_table, vocab = bpe_train(train, "text", merges=4)
    pairs = [
        (r["sym1"], r["sym2"])
        for r in merge_table.orderBy("rank").collect()
        if r["sym1"] is not None
    ]

    # in-vocabulary: same segmentation as training
    enc = bpe_encode(train, "doc_id", "text", vocab, pairs)
    by_word = {r["word"]: r["symbols"] for r in enc.collect()}
    assert by_word["newest"] == ["n", "e", "w", "est</w>"]
    assert by_word["low"] == ["lo", "w", "</w>"]

    # OOV: 'lowest' was never seen — chars + frozen merges give
    # lo|w|est</w>, and 'slowest' -> s|lo|w|est</w>
    probe = spark.createDataFrame(
        [(9, "lowest slowest low")], "doc_id long, text string"
    )
    enc2 = {r["word"]: r["symbols"] for r in bpe_encode(
        probe, "doc_id", "text", vocab, pairs
    ).collect()}
    assert enc2["lowest"] == ["lo", "w", "est</w>"]
    assert enc2["slowest"] == ["s", "lo", "w", "est</w>"]
    assert enc2["low"] == ["lo", "w", "</w>"]  # vocab hit
    # every symbol stream concatenates back to word + marker
    for w, syms in enc2.items():
        assert "".join(syms) == w + "</w>"

    # no merge list: OOV stays raw characters
    raw = {r["word"]: r["symbols"] for r in bpe_encode(
        probe, "doc_id", "text", vocab
    ).collect()}
    assert raw["lowest"] == list("lowest") + ["</w>"]
