"""Streaming window + multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from demy_spark.io import load_table
from demy_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_image,
    extract_byte_features,
    synth_media_table,
)
from demy_spark.streaming.windows import (
    hourly_event_aggregate,
    read_events_stream,
    run_stream_to_memory,
)


def test_streaming_hourly_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    agg = hourly_event_aggregate(stream)
    got = run_stream_to_memory(agg, "hourly_test")

    batch = hourly_event_aggregate(load_table(spark, sf_dir, "events"))
    b = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    s = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["total_value"])
        for r in got.collect()
    }
    # watermark may hold back the final windows in append mode; every
    # emitted window must match the batch result exactly
    assert s and all(s[k] == b[k] for k in s)


def test_byte_features(spark):
    media = synth_media_table(spark, n=32)
    feats = extract_byte_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 32
    assert rows[0]["sniffed_mime"] == "image/jpeg"
    assert rows[1]["sniffed_mime"] == "image/png"
    assert all(r["n_bytes"] > 0 for r in rows.values())
    assert all(0 < r["entropy_proxy"] <= 1 for r in rows.values())
    # deterministic: same id → same sha1 on rerun
    again = {r["media_id"]: r["sha1"] for r in extract_byte_features(media).collect()}
    assert again == {k: v["sha1"] for k, v in rows.items()}


def test_decode_resize_pipeline(spark):
    from demy_spark.operators.multimodal import _fake_decode, resize_image

    media = synth_media_table(spark, n=4).select("media_id", "payload")
    # pin the fake: synth payloads are not real images, and the default
    # decoder auto-upgrades to Pillow when it is installed
    decoded = decode_image(media, decoder=_fake_decode)  # no meta → 8x8x3
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert len(rows) == 4
    assert all(
        (r["height"], r["width"], r["channels"]) == (8, 8, 3)
        and len(r["pixels"]) == 8 * 8 * 3
        and all(0.0 <= p <= 1.0 for p in r["pixels"])
        for r in rows.values()
    )
    # deterministic fake: same payload → same pixels
    again = {
        r["media_id"]: r["pixels"]
        for r in decode_image(media, decoder=_fake_decode).collect()
    }
    assert again == {k: v["pixels"] for k, v in rows.items()}

    small = {r["media_id"]: r for r in resize_image(decoded, 4, 2).collect()}
    assert all(
        (r["height"], r["width"], len(r["pixels"])) == (4, 2, 4 * 2 * 3)
        for r in small.values()
    )
    # nearest-neighbor: output pixel (0,0,c) is input pixel (0,0,c)
    assert small[0]["pixels"][:3] == rows[0]["pixels"][:3]


def test_default_decoder_tracks_pillow_availability():
    from demy_spark.operators.multimodal import (
        _auto_decode,
        _pillow_decode,
        default_image_decoder,
        pillow_available,
    )

    expected = _pillow_decode if pillow_available() else _auto_decode
    assert default_image_decoder() is expected


def test_png_decode_golden(spark):
    """UNGATED golden (was pillow-gated; VERDICT r5 task 7): real PNG
    bytes from the vendored pure-stdlib encoder decode to known pixel
    values through decode_image's DEFAULT path — Pillow when present,
    the vendored pure decoder otherwise, identical pixels either way."""
    from demy_spark.operators.multimodal import encode_png

    # 2x2 RGB: red, green / blue, white
    png = encode_png(
        bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]), 2, 2, 3
    )
    media = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", 2, 2, 0))], MEDIA_SCHEMA
    )
    out = decode_image(media, default_hw=(2, 2)).collect()[0]
    assert (out["height"], out["width"], out["channels"]) == (2, 2, 3)
    got = [round(p, 6) for p in out["pixels"]]
    assert got == [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]


def test_png_codec_roundtrip_and_filters():
    """The vendored PNG codec against the public spec: encode→decode
    roundtrips gray/RGB/RGBA, every scanline filter type (Sub/Up/
    Average/Paeth hand-filtered per spec §9) unfilters back to the
    original, channel conversion matches Pillow's fixed-point luma,
    and exotic encodings raise loudly instead of faking pixels."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from demy_spark.operators.multimodal import (
        _png_decode,
        _png_decode_array,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for c in (1, 3, 4):
        arr = rng.integers(0, 256, size=(5, 4, c), dtype=np.uint8)
        back = _png_decode_array(encode_png(arr.tobytes(), 5, 4, c))
        assert np.array_equal(back, arr), f"roundtrip c={c}"

    # hand-filter each row with a different filter type
    arr = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    stride = 6 * 3
    flat = arr.reshape(5, stride).astype(np.int32)
    raws = []
    prev = np.zeros(stride, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        left = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prev
        elif ftype == 3:
            filt = cur - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        raws.append(bytes([ftype]) + bytes((filt % 256).astype(np.uint8)))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", 6, 5, 8, 2, 0, 0, 0)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(_png_decode_array(png), arr)

    # channel conversion: RGB -> L uses Pillow's fixed-point luma
    rgb = np.array([[[255, 0, 0]]], dtype=np.uint8)
    gray = _png_decode(encode_png(rgb.tobytes(), 1, 1, 3), 1, 1, 1)
    assert round(gray[0] * 255) == (255 * 19595 + 0x8000) >> 16

    # exotic shapes raise, never fake
    bad_ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad_ihdr) + chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        _png_decode_array(bad)
    with pytest.raises(ValueError):
        _png_decode_array(b"not a png")


def test_sample_video_frames_fanout(spark):
    from demy_spark.operators.multimodal import sample_video_frames

    media = synth_media_table(spark, n=12)
    frames = sample_video_frames(media, every_ms=1000)
    got = frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    by_id = {r["media_id"]: r["n"] for r in got}
    # synth duration is 1000*(i % 90) ms → i frames (min 1)
    assert by_id[5] == 5 and by_id[1] == 1
    one = frames.where(F.col("media_id") == 5).orderBy("frame_idx").collect()
    assert [r["ts_ms"] for r in one] == [0, 1000, 2000, 3000, 4000]
    assert all(len(r["frame_bytes"]) > 0 for r in one)


def test_media_dedup_by_sha1(spark):
    media = synth_media_table(spark, n=16)
    dup = media.union(media.limit(4))
    feats = extract_byte_features(dup)
    groups = feats.groupBy("sha1").agg(F.count("*").alias("n"))
    assert groups.where(F.col("n") > 1).count() == 4


def test_streaming_curation_matches_batch(spark, sf_dir):
    """The per-row curation passes (quality rules, PII redaction) are
    stateless expressions, so they compose with readStream unchanged —
    the streaming twin of the q92/q91 batch semantics."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from demy_spark.functions.text import redact_pii
    from demy_spark.functions.textstats import gopher_rules
    from demy_spark.io import load_table

    batch = load_table(spark, sf_dir, "documents")
    stage = os.path.join(
        tempfile.gettempdir(),
        "demy_docstream_" + sf_dir.strip("/").replace("/", "_"),
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "documents.parquet"), link)
    stream = spark.readStream.schema(batch.schema).parquet(stage)
    assert stream.isStreaming

    def curate(df):
        low = F.lower(F.col("text"))
        r = gopher_rules(low, min_words=20, max_dup2=0.1)
        return df.where(r["ok_words"] & r["ok_dup2"]).select(
            "doc_id", redact_pii(low).alias("clean")
        )

    got = run_stream_to_memory(curate(stream), "curation_stream")
    s = {(r["doc_id"], r["clean"]) for r in got.collect()}
    b = {(r["doc_id"], r["clean"]) for r in curate(batch).collect()}
    assert s == b and len(s) > 0


def test_streaming_near_dup_probe_matches_batch(spark, sf_dir, tmp_path):
    from demy_spark.operators.dedup import minhash_index, minhash_probe
    from demy_spark.streaming.probe import streaming_near_dup_probe

    docs = load_table(spark, sf_dir, "documents")
    idx_docs = docs.where("doc_id % 5 != 0")
    bands_df, shingles_df = minhash_index(idx_docs, "text", "doc_id")
    bands_df, shingles_df = bands_df.persist(), shingles_df.persist()

    stream_dir = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(stream_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    assert stream.isStreaming

    got: set = set()
    q = streaming_near_dup_probe(
        stream,
        bands_df,
        shingles_df,
        "text",
        "doc_id",
        jaccard_threshold=0.5,
        on_batch=lambda pairs, _e: got.update(
            (r["batch_id"], r["index_id"], r["jaccard"]) for r in pairs.collect()
        ),
    )
    q.awaitTermination(120)

    want = {
        (r["batch_id"], r["index_id"], r["jaccard"])
        for r in minhash_probe(
            bands_df, shingles_df, docs, "text", "doc_id", jaccard_threshold=0.5
        ).collect()
    }
    assert got == want and got


def test_streaming_fuzzy_lookup_matches_batch(spark, sf_dir, tmp_path):
    """The flagship fuzzy lookup's streaming twin (VERDICT r5 task 8):
    a foreachBatch probe against a SAVED-then-RELOADED FuzzyIndex must
    produce exactly the batch operator's matches over the same rows —
    one code path, arbitrary micro-batch slicing, the reference's
    reuseExistingIndex deployment."""
    import pyspark.sql.functions as F

    from demy_spark.functions import textstats
    from demy_spark.operators.fuzzy_lookup import FuzzyIndex, fuzzy_lookup
    from demy_spark.streaming.probe import streaming_fuzzy_lookup

    docs = load_table(spark, sf_dir, "documents")
    toks = textstats.norm_tokens(F.col("text"))
    dictionary = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.size(toks) >= 3))
        .select(
            F.concat_ws(" ", F.slice(toks, 1, 3)).alias("phrase"),
            F.col("doc_id").alias("entity_id"),
        )
        .groupBy("phrase")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    FuzzyIndex(dictionary, "phrase").save(str(tmp_path / "fidx"))
    index = FuzzyIndex.load(spark, str(tmp_path / "fidx")).persist()

    probes = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    stream_dir = str(tmp_path / "probe_stream")
    probes.repartition(3).write.parquet(stream_dir)
    stream = (
        spark.readStream.schema(probes.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    assert stream.isStreaming

    kw = dict(
        max_lev_distance=1,
        min_score=0.2,
        top_k=1,
        tie_break_cols=("entity_id",),
    )

    def key(r):
        s = r["_score_"]
        return (r["doc_id"], r["entity_id"], None if s is None else round(s, 6))

    got: set = set()
    q = streaming_fuzzy_lookup(
        stream,
        index,
        "text",
        on_batch=lambda m, _e: got.update(key(r) for r in m.collect()),
        **kw,
    )
    q.awaitTermination(180)

    want = {
        key(r)
        for r in fuzzy_lookup(
            probes, index.right, "text", "phrase", index=index, **kw
        ).collect()
    }
    assert got == want
    assert any(e is not None for _, e, _ in got), "no matches exercised"


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: feeding events through
    micro-batches (one file per trigger) must leave the store EXACTLY
    equal to the from-scratch batch aggregation — the mergeable-partial
    identity q121 proves batch-side, here under arbitrary stream
    slicing."""
    import pyspark.sql.functions as F

    from demy_spark.operators.temporal import aggregate_partials
    from demy_spark.streaming.rollup import (
        read_rollup_store,
        streaming_rollup_update,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    stream_dir = str(tmp_path / "events_stream")
    ev.repartition(5).write.parquet(stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    spec = dict(
        sums={"cents_sum": F.sum("cents")},
        mins={"min_cents": F.min("cents")},
        maxs={"max_cents": F.max("cents")},
    )
    store = str(tmp_path / "rollup_store")
    q = streaming_rollup_update(
        stream,
        store,
        ["day", "event_type"],
        **spec,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    cols = ["day", "event_type", "n", "cents_sum", "min_cents", "max_cents"]
    got = {
        tuple(r)
        for r in read_rollup_store(spark, store).select(*cols).collect()
    }
    want = {
        tuple(r)
        for r in aggregate_partials(ev, ["day", "event_type"], **spec)
        .select(*cols)
        .collect()
    }
    assert got == want and len(got) > 100

    # query rewrite: a FRESH checkpoint re-reads the whole source, so
    # the store must REBUILD from the new transaction's batches (epoch
    # ids are checkpoint-scoped — merging them into existing history
    # would double-count). Same source → same final store.
    q2 = streaming_rollup_update(
        stream,
        store,
        ["day", "event_type"],
        **spec,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    again = {
        tuple(r)
        for r in read_rollup_store(spark, store).select(*cols).collect()
    }
    assert again == want


def test_apply_rollup_batch_idempotence_contract(spark, tmp_path):
    """The transaction contract directly: same-txn replays are
    skipped (at-least-once redelivery), same-txn new epochs merge,
    and a new txn id rebuilds instead of double-merging."""
    import pyspark.sql.functions as F

    from demy_spark.streaming.rollup import (
        apply_rollup_batch,
        read_rollup_store,
    )

    store = str(tmp_path / "store")
    kw = dict(sums={"s": F.sum("v")})
    b1 = spark.createDataFrame([("k", 1), ("k", 2)], "g string, v long")
    b2 = spark.createDataFrame([("k", 10)], "g string, v long")

    assert apply_rollup_batch(b1, store, ["g"], "ckptA", 0, **kw) is True
    # replay of epoch 0 from the same checkpoint: skipped, store unchanged
    assert apply_rollup_batch(b1, store, ["g"], "ckptA", 0, **kw) is False
    assert read_rollup_store(spark, store).collect()[0]["s"] == 3
    # next epoch merges
    assert apply_rollup_batch(b2, store, ["g"], "ckptA", 1, **kw) is True
    assert read_rollup_store(spark, store).collect()[0]["s"] == 13
    # NEW transaction (query rewrite): rebuild from its first batch,
    # never merge into the old history — and the old transaction's
    # final snapshot survives on disk until explicitly pruned
    assert apply_rollup_batch(b1, store, ["g"], "ckptB", 0, **kw) is True
    assert read_rollup_store(spark, store).collect()[0]["s"] == 3
    import os as _os

    before = {d for d in _os.listdir(store) if d.startswith("v=")}
    assert len(before) >= 2  # new txn's snapshot + retained old history
    from demy_spark.streaming.rollup import prune_rollup_store

    prune_rollup_store(spark, store)
    after = {d for d in _os.listdir(store) if d.startswith("v=")}
    assert len(after) == 1
    assert read_rollup_store(spark, store).collect()[0]["s"] == 3


def test_rollup_txn_marker_round_trips_long_non_ascii_id(spark, tmp_path):
    """The transaction marker is read back whole: a 300-character
    non-ASCII checkpoint path survives the write/read round trip, and a
    replay under that id is still recognized and skipped."""
    import pyspark.sql.functions as F

    from demy_spark.streaming.rollup import _fs, _read_txn, apply_rollup_batch

    txn_id = ("/checkpoints/été-流量-Ωμέγα/" * 20)[:300]
    assert len(txn_id) == 300 and not txn_id.isascii()
    store = str(tmp_path / "store")
    kw = dict(sums={"s": F.sum("v")})
    b = spark.createDataFrame([("k", 1)], "g string, v long")

    assert apply_rollup_batch(b, store, ["g"], txn_id, 0, **kw) is True
    fs, _, jvm = _fs(spark, store)
    assert _read_txn(spark, fs, jvm, store, 0) == {"txn_id": txn_id, "epoch": 0}
    assert apply_rollup_batch(b, store, ["g"], txn_id, 0, **kw) is False
    assert apply_rollup_batch(b, store, ["g"], txn_id, 1, **kw) is True
    assert _read_txn(spark, fs, jvm, store, 1) == {"txn_id": txn_id, "epoch": 1}
    assert apply_rollup_batch(b, store, ["g"], txn_id, 1, **kw) is False


def test_streaming_sliding_matches_batch(spark, sf_dir):
    """Sliding 2h/1h windows under readStream+watermark must equal the
    batch plan window-for-window (q120's streaming twin — every event
    in exactly two windows on both paths)."""
    from demy_spark.streaming.windows import sliding_event_aggregate

    stream = read_events_stream(spark, sf_dir)
    agg = sliding_event_aggregate(stream)
    got = run_stream_to_memory(agg, "sliding_test")

    batch = sliding_event_aggregate(load_table(spark, sf_dir, "events"))
    b = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    s = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["total_value"])
        for r in got.collect()
    }
    assert s and all(s[k] == b[k] for k in s)
    # overlap sanity: total assignments are exactly 2x the event count
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(v[0] for v in b.values()) == 2 * n_events


def _rollup_state(spark, store):
    """(sorted version dirs, staging dirs, newest-snapshot rows) — the
    bit-identity probe the crash-matrix tests compare on."""
    import os as _os

    from demy_spark.streaming.rollup import read_rollup_store

    names = sorted(_os.listdir(store))
    vdirs = [n for n in names if n.startswith("v=")]
    staging = [n for n in names if n.startswith(".staging-v=")]
    rows = sorted(
        tuple(r) for r in read_rollup_store(spark, store).select("g", "n", "s").collect()
    )
    return vdirs, staging, rows


def test_rollup_crash_between_stage_and_rename(spark, tmp_path):
    """Fault injection at the protocol's one dangerous window: the
    writer died AFTER fully staging a version (parquet + _txn.json
    written) but BEFORE the directory rename. The previous committed
    version must stay the readable truth, and the next successful
    commit must garbage-collect the orphan and leave the store
    BIT-IDENTICAL to a run that never crashed."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F

    from demy_spark.streaming.rollup import apply_rollup_batch

    kw = dict(sums={"s": F.sum("v")})
    b0 = spark.createDataFrame([("k", 1), ("k", 2)], "g string, v long")
    b1 = spark.createDataFrame([("k", 10), ("j", 5)], "g string, v long")

    crashed = str(tmp_path / "crashed")
    clean = str(tmp_path / "clean")
    for store in (crashed, clean):
        assert apply_rollup_batch(b0, store, ["g"], "ckptA", 0, **kw)

    # the crash: epoch 1 staged completely, rename never happened —
    # byte-for-byte the state apply_rollup_batch leaves at that point
    stage = f"{crashed}/.staging-v=1"
    spark.createDataFrame([("k", 13, 3)], "g string, s long, n long").write.parquet(
        stage
    )
    with open(f"{stage}/_txn.json", "w") as f:
        _json.dump({"txn_id": "ckptA", "epoch": 1}, f)
    # ... and a second writer killed even earlier (no marker yet)
    spark.createDataFrame([("x", 1, 1)], "g string, s long, n long").write.parquet(
        f"{crashed}/.staging-v=99"
    )

    # previous version is still the readable truth
    _, staging, rows = _rollup_state(spark, crashed)
    assert rows == [("k", 2, 3)]
    assert len(staging) == 2

    # the restarted query redelivers epoch 1; both stores then apply it
    for store in (crashed, clean):
        assert apply_rollup_batch(b1, store, ["g"], "ckptA", 1, **kw)

    assert _rollup_state(spark, crashed) == _rollup_state(spark, clean)
    assert not [n for n in _os.listdir(crashed) if n.startswith(".staging")]


def test_rollup_full_checkpoint_replay_bit_identity(spark, tmp_path):
    """Replay an ENTIRE checkpoint's worth of epochs against an
    already-caught-up store (the restart-from-old-checkpoint scenario):
    every epoch must be recognized as applied and skipped, leaving the
    store bit-identical — same versions on disk, same rows."""
    import pyspark.sql.functions as F

    from demy_spark.streaming.rollup import apply_rollup_batch

    kw = dict(sums={"s": F.sum("v")}, keep_versions=3)
    epochs = [
        spark.createDataFrame([("k", 1)], "g string, v long"),
        spark.createDataFrame([("k", 2), ("j", 7)], "g string, v long"),
        spark.createDataFrame([("j", 4)], "g string, v long"),
    ]
    store = str(tmp_path / "store")
    for e, b in enumerate(epochs):
        assert apply_rollup_batch(b, store, ["g"], "ckptA", e, **kw) is True
    before = _rollup_state(spark, store)

    for e, b in enumerate(epochs):  # the whole checkpoint replays
        assert apply_rollup_batch(b, store, ["g"], "ckptA", e, **kw) is False
    assert _rollup_state(spark, store) == before
    assert before[2] == [("j", 2, 11), ("k", 2, 3)]


def test_rollup_retention_catches_up_after_skipped_cleanup(spark, tmp_path):
    """A crash after rename but before stale-version deletion leaves
    more same-txn snapshots than the retention window; the NEXT commit
    must prune back down to keep_versions (cleanup is deferred, never
    lost)."""
    import pyspark.sql.functions as F

    from demy_spark.streaming.rollup import apply_rollup_batch

    kw = dict(sums={"s": F.sum("v")})
    store = str(tmp_path / "store")
    b = lambda v: spark.createDataFrame([("k", v)], "g string, v long")  # noqa: E731
    # keep_versions=3 accumulates v0..v2 — on-disk state identical to a
    # keep_versions=1 writer that crashed before deleting its stale dirs
    for e in range(3):
        assert apply_rollup_batch(b(e + 1), store, ["g"], "ckptA", e,
                                  keep_versions=3, **kw)
    vdirs, _, _ = _rollup_state(spark, store)
    assert len(vdirs) == 3
    # restarted writer with the true retention window: one commit
    # re-clamps the window
    assert apply_rollup_batch(b(10), store, ["g"], "ckptA", 3,
                              keep_versions=1, **kw)
    vdirs, staging, rows = _rollup_state(spark, store)
    assert vdirs == ["v=3"]
    assert rows == [("k", 4, 16)]


def test_streaming_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """streaming_quality_gate: the C4 + blocklist gate over a document
    stream equals the same batch composition — one code path."""
    import os
    import tempfile

    from demy_spark.functions.domains import blocklist_gate
    from demy_spark.functions.textstats import c4_rules
    from demy_spark.streaming.probe import streaming_quality_gate

    batch = load_table(spark, sf_dir, "documents").withColumn(
        "host", F.concat(F.col("source"), F.lit(".com"))
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        "demy_docstream_" + sf_dir.strip("/").replace("/", "_"),
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "documents.parquet"), link)
    raw_schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .withColumn("host", F.concat(F.col("source"), F.lit(".com")))
    )
    bl = spark.createDataFrame(
        [("src1.com", "ads"), ("src3.com", "adult")], "domain string, category string"
    )
    sink = str(tmp_path / "gated")
    q = streaming_quality_gate(
        stream,
        "text",
        "host",
        bl,
        on_batch=lambda df, epoch: df.write.mode("append").parquet(sink),
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["domain_keep"], r["quality_keep"], r["keep"])
        for r in spark.read.parquet(sink).collect()
    }

    expected_frame = (
        blocklist_gate(batch, "host", bl)
        .withColumnRenamed("keep", "domain_keep")
        .withColumn("quality_keep", c4_rules(F.col("text"))["keep"])
        .withColumn("keep", F.col("domain_keep") & F.col("quality_keep"))
    )
    exp = {
        (r["doc_id"], r["domain_keep"], r["quality_keep"], r["keep"])
        for r in expected_frame.collect()
    }
    assert got == exp and len(got) > 0
    # the blocklist verdict fires both ways; the C4 verdict is all-drop
    # on the raw fixture BY DESIGN (punctuation-free word soup — q133
    # synthesizes decorated pages for exactly this reason), so the
    # quality assertion here is batch-equality, not a kept count
    assert any(not d for _, d, _, _ in got)
    assert any(d for _, d, _, _ in got)


def test_decode_real_column_marks_fake_pixels(spark):
    """PERMANENT POLICY (COVERAGE.md r9): substituted pixels must be
    machine-visible in the data. The default decoder marks PNG rows
    real and codec-less formats fake; an explicit _fake_decode marks
    everything fake; resize carries the flag through."""
    from demy_spark.operators.multimodal import (
        _fake_decode,
        encode_png,
        pillow_available,
        resize_image,
    )

    png = encode_png(bytes([0, 128, 255] * 4), 2, 2, 3)
    media = spark.createDataFrame(
        [
            (1, bytearray(png), {"height": 2, "width": 2}),
            (2, bytearray(b"\xff\xd8\xff\xe0 not-a-real-jpeg"), {"height": 2, "width": 2}),
        ],
        "media_id long, payload binary, meta map<string,int>",
    )
    out = {r["media_id"]: r for r in decode_image(media).collect()}
    assert out[1]["decode_real"] is True
    # without Pillow the JPEG payload got the fake keystream; with it,
    # Pillow would RAISE on these corrupt bytes before returning rows
    assert pillow_available() or out[2]["decode_real"] is False
    forced = decode_image(media, decoder=_fake_decode)
    assert {r["decode_real"] for r in forced.collect()} == {False}
    rz = {r["media_id"]: r for r in resize_image(forced, 4, 4).collect()}
    assert rz[1]["decode_real"] is False and len(rz[1]["pixels"]) == 48


def test_streaming_quantile_summary_matches_batch(spark, sf_dir, tmp_path):
    """r12: the quantile-summary store maintained over micro-batches
    (one file per trigger) must answer EXACTLY like the from-scratch
    batch sketch when the summaries stay lossless — the mergeable-
    summary identity quantile_sketch_merge proves batch-side, here
    under arbitrary stream slicing and the store's txn protocol."""
    import pyspark.sql.functions as F

    from demy_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_query,
    )
    from demy_spark.streaming.rollup import (
        read_rollup_store,
        streaming_quantile_update,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        "event_id",
    )
    stream_dir = str(tmp_path / "ev_q_stream")
    ev.repartition(5).write.parquet(stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    store = str(tmp_path / "quantile_store")
    q = streaming_quantile_update(
        stream,
        store,
        "cents",
        ["event_type"],
        shards=4,
        capacity=8192,
        shard_key=["event_id"],
        checkpoint_dir=str(tmp_path / "qckpt"),
    )
    q.awaitTermination(120)

    ps = [1, 25, 50, 75, 99, 100]
    summary = read_rollup_store(spark, store)
    # mass conservation across all epochs/merges
    assert (
        summary.agg(F.sum("weight")).collect()[0][0] == ev.count()
    )
    got = sorted(
        map(tuple, quantile_sketch_query(summary, ps, ["event_type"]).collect())
    )
    batch_sk = quantile_sketch_build(
        ev, "cents", ["event_type"], shards=4, capacity=8192,
        shard_key=["event_id"],
    )
    want = sorted(
        map(tuple, quantile_sketch_query(batch_sk, ps, ["event_type"]).collect())
    )
    assert got == want and len(got) >= 2 * len(ps)

    # replay: re-applying an already-applied epoch must be a no-op
    from demy_spark.streaming.rollup import apply_quantile_batch

    before = sorted(map(tuple, read_rollup_store(spark, store).collect()))
    assert (
        apply_quantile_batch(
            ev.limit(50), store, "cents", ["event_type"],
            str(tmp_path / "qckpt"), 0, shards=4, capacity=8192,
            shard_key=["event_id"],
        )
        is False
    )
    after = sorted(map(tuple, read_rollup_store(spark, store).collect()))
    assert before == after


def test_streaming_weighted_quantile_summary_matches_batch(spark, sf_dir, tmp_path):
    """r13: the WEIGHTED build was the one sketch configuration
    without a pinned stream/batch equality (the r12 pin covered the
    unweighted store). Same contract: a weight-carrying stream folded
    epoch-by-epoch into the versioned store answers exactly like the
    from-scratch weighted batch sketch while summaries stay lossless,
    and the store's mass equals sum(weights), not row count."""
    import pyspark.sql.functions as F

    from demy_spark.operators.sketches import (
        quantile_sketch_build,
        quantile_sketch_query,
    )
    from demy_spark.streaming.rollup import (
        read_rollup_store,
        streaming_quantile_update,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        "event_id",
        (1 + F.pmod(F.col("event_id"), F.lit(7))).cast("long").alias("w"),
    )
    stream_dir = str(tmp_path / "ev_wq_stream")
    ev.repartition(4).write.parquet(stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    store = str(tmp_path / "wq_store")
    q = streaming_quantile_update(
        stream,
        store,
        "cents",
        ["event_type"],
        shards=4,
        capacity=8192,
        shard_key=["event_id"],
        weight_col="w",
        checkpoint_dir=str(tmp_path / "wqckpt"),
    )
    q.awaitTermination(120)

    ps = [1, 25, 50, 75, 99, 100]
    summary = read_rollup_store(spark, store)
    total_w = ev.agg(F.sum("w")).collect()[0][0]
    assert (
        summary.agg(F.sum("weight")).collect()[0][0] == total_w
    ), "store mass must be sum(weights)"
    got = sorted(
        map(tuple, quantile_sketch_query(summary, ps, ["event_type"]).collect())
    )
    batch_sk = quantile_sketch_build(
        ev, "cents", ["event_type"], shards=4, capacity=8192,
        shard_key=["event_id"], weight_col="w",
    )
    want = sorted(
        map(tuple, quantile_sketch_query(batch_sk, ps, ["event_type"]).collect())
    )
    assert got == want and len(got) >= 2 * len(ps)
