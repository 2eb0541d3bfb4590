"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

A 100 TB training-data pipeline carries media as ``binary`` payloads
next to structured metadata; decode/feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes never round-trip through Python
row objects. Image decode auto-detects Pillow at runtime
(``pillow_available()``): when present, ``decode_image`` decodes real
JPEG/PNG bytes via libjpeg; when absent (this container), PNG
payloads decode for REAL through the vendored pure-stdlib PNG codec
(``encode_png``/``_png_decode`` — the public ISO/IEC 15948 spec, all
five scanline filters) and JPEG payloads decode for REAL through the
vendored pure-Python codec (``demy_spark.jpeg`` — ITU-T T.81 baseline
sequential r10, progressive/Annex G r11, numpy IDCT); only the
remaining codec-library formats (lossless/arithmetic JPEG variants,
video, audio) fall back to
a clearly-marked deterministic fake keystream with the identical
schema/batch shape — machine-visible per row via ``decode_real`` —
so the Spark-side plumbing is real and tested either way.

Audio and video (r10/r11): PCM WAV features are REAL via the stdlib
``wave`` module (``extract_audio_features``: 8/16/24/32-bit widths,
full-scale-normalised RMS/peak), and container metadata is REAL for
the three dominant crawled containers — MP4/MOV via a pure ISO/IEC
14496-12 box walk (r10), AVI via the RIFF ``avih`` main header and
Matroska/WebM via an EBML walk (r11) — through
``extract_video_metadata`` (brand/doctype, duration, dims, track
count). Compressed audio and actual video FRAME decode stay behind
honest NULL/fake rows flagged per row until codec bindings exist
(COVERAGE.md policy; ``decode_audio(decoder=...)`` is the injection
point).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demy_spark.io import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

_MAGIC = [
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG", "image/png"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mpeg"),
    (b"\x00\x00\x00", "video/mp4"),
]

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha1", T.StringType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("sniffed_mime", T.StringType()),
        T.StructField("entropy_proxy", T.DoubleType()),
    ]
)


def _sniff(b: bytes | None) -> str:
    if not b:
        return "application/octet-stream"
    for magic, mime in _MAGIC:
        if b.startswith(magic):
            return mime
    return "application/octet-stream"


def extract_byte_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Deterministic byte-level features per media row (the decode-free
    path): size, sha1, magic-sniffed mime, distinct-byte entropy proxy.
    Arrow-batched — one pandas frame per partition batch, no per-row
    Python overhead beyond the hash itself."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda b: 0 if b is None else len(b)),
                    "sha1": payloads.map(
                        lambda b: hashlib.sha1(b or b"").hexdigest()
                    ),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "sniffed_mime": payloads.map(_sniff),
                    "entropy_proxy": payloads.map(
                        lambda b: 0.0 if not b else len(set(b)) / 256.0
                    ),
                }
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.FloatType())),
        # PERMANENT POLICY (COVERAGE.md, r9): fake pixels must be
        # machine-visible in the DATA, not just the docs — False here
        # means the deterministic keystream stood in for a codec this
        # environment lacks (JPEG without Pillow)
        T.StructField("decode_real", T.BooleanType()),
    ]
)


def _fake_decode(payload: bytes | None, h: int, w: int, c: int = 3) -> list[float]:
    """DETERMINISTIC FAKE decoder (this container has no codec libs):
    pixels in [0,1] derived from a sha256 keystream over the payload —
    stable across runs/executors, shaped exactly like a real decode.
    Swap for Pillow/opencv in production; nothing else changes."""
    n = h * w * c
    out: list[float] = []
    counter = 0
    seed = hashlib.sha256(payload or b"").digest()
    while len(out) < n:
        block = hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 for b in block)
        counter += 1
    return out[:n]


def pillow_available() -> bool:
    """True when Pillow is importable in this interpreter — decides
    whether ``decode_image`` decodes real bytes or the deterministic
    fake. Checked on the DRIVER; executors share the environment in
    every supported deployment (same image/venv)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: bytes, h: int, w: int, c: int = 3) -> bytes:
    """Minimal PNG encoder (pure stdlib: zlib + struct): 8-bit
    grayscale/RGB/RGBA, non-interlaced, filter-0 scanlines. Exists so
    tests and fixtures can produce REAL image bytes without any codec
    dependency; spec: the public PNG standard (ISO/IEC 15948)."""
    import struct
    import zlib

    color_type = {1: 0, 3: 2, 4: 6}[c]
    if len(pixels) != h * w * c:
        raise ValueError(f"need {h * w * c} bytes, got {len(pixels)}")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    stride = w * c
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(h)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_decode_array(payload: bytes):
    """Decode PNG bytes to a (h, w, c) uint8 numpy array — pure
    stdlib + numpy, the public spec only. Supports the dominant web
    shapes: bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA),
    non-interlaced; all five scanline filters (None/Sub/Up/Average/
    Paeth) are unfiltered per spec §9. Exotic encodings (palette,
    16-bit, interlaced) raise — a legitimate guard, matching the repo
    policy of loud NotImplementedError over silent wrong pixels."""
    import struct
    import zlib

    import numpy as np

    if not payload or not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos, w = len(_PNG_MAGIC), None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or ctype not in (0, 2, 6) or interlace:
                raise NotImplementedError(
                    f"PNG depth={depth} color_type={ctype} "
                    f"interlace={interlace} not supported by the pure "
                    "decoder — install Pillow for exotic encodings"
                )
            c = {0: 1, 2: 3, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload truncated")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        line = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, cur = line[0], np.frombuffer(line[1:], dtype=np.uint8).copy()
        if ftype == 1:  # Sub
            for x in range(c, stride):
                cur[x] = (int(cur[x]) + int(cur[x - c])) & 0xFF
        elif ftype == 2:  # Up
            cur = (cur.astype(np.int32) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(cur[x - c]) if x >= c else 0
                cur[x] = (int(cur[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - c]) if x >= c else 0
                b = int(prev[x])
                cc = int(prev[x - c]) if x >= c else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur
        prev = out[y]
    return out.reshape(h, w, c)


def _convert_channels(arr, c: int):
    """uint8 HWC channel conversion matching Pillow's ``convert``
    arithmetic (ITU-R 601-2 luma via the same fixed-point rounding),
    so the pure-PNG and Pillow decode paths agree bit-for-bit on the
    supported shapes."""
    import numpy as np

    have = arr.shape[2]
    if have == c:
        return arr
    if have == 4:  # drop alpha first
        arr = arr[:, :, :3]
        have = 3
    if have == 1 and c >= 3:
        arr = np.repeat(arr, 3, axis=2)
        have = 3
    if have == 3 and c == 1:
        r = arr[:, :, 0].astype(np.uint32)
        g = arr[:, :, 1].astype(np.uint32)
        b = arr[:, :, 2].astype(np.uint32)
        luma = (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
        arr = luma.astype(np.uint8)[:, :, None]
        have = 1
    if have < c:  # add opaque alpha
        pad = np.full(arr.shape[:2] + (c - have,), 255, dtype=arr.dtype)
        arr = np.concatenate([arr, pad], axis=2)
    return arr


def _finish_decode(arr, h: int, w: int, c: int) -> list[float]:
    """Shared tail of every real decode path: channel conversion,
    nearest-resize to the requested dims, [0,1] row-major floats —
    ONE implementation so the PNG/JPEG/Pillow contracts cannot
    drift (r10 review)."""
    import numpy as np

    arr = _convert_channels(arr, c)
    ah, aw = arr.shape[:2]
    if (ah, aw) != (h, w):
        ys = (np.arange(h) * ah // h).clip(0, ah - 1)
        xs = (np.arange(w) * aw // w).clip(0, aw - 1)
        arr = arr[ys][:, xs]
    return (arr.astype(np.float32) / 255.0).ravel().tolist()


def _png_decode(payload: bytes | None, h: int, w: int, c: int = 3) -> list[float]:
    """REAL PNG decode without any codec dependency: the pure-stdlib
    parser above, then the shared channel-convert / nearest-resize /
    [0,1]-scale tail."""
    return _finish_decode(_png_decode_array(payload or b""), h, w, c)


def _pillow_decode(payload: bytes | None, h: int, w: int, c: int = 3) -> list[float]:
    """REAL image decode via Pillow: parse the payload bytes, convert
    to the requested channel count (L/RGB/RGBA), nearest-resize to the
    requested (h, w) when the encoded size differs, scale to [0,1]
    row-major HWC floats. Raises on undecodable bytes — a production
    pipeline wants the error surfaced (route through a try/filter
    stage upstream to quarantine corrupt media)."""
    from io import BytesIO

    import numpy as np
    from PIL import Image

    mode = {1: "L", 3: "RGB", 4: "RGBA"}[c]
    img = Image.open(BytesIO(payload or b"")).convert(mode)
    if img.size != (w, h):
        img = img.resize((w, h), Image.NEAREST)
    return (np.asarray(img, dtype=np.float32) / 255.0).ravel().tolist()


def _jpeg_decode(payload: bytes | None, h: int, w: int, c: int = 3) -> list[float]:
    """REAL JPEG decode without any codec dependency (demy_spark.jpeg
    — pure Python + numpy IDCT; baseline since r10, progressive/SOF2
    since r11), then the shared channel-convert / nearest-resize /
    [0,1]-scale tail."""
    from demy_spark.jpeg import decode_jpeg

    return _finish_decode(decode_jpeg(payload or b""), h, w, c)


def _auto_kind(payload: bytes | None) -> str:
    """Classify a payload for the dependency-free decoder: 'png' and
    'jpeg' take the REAL pure-Python paths, everything else the
    marked fake. ONE classification shared by decode and the
    decode_real column (r10 review: the JPEG marker walk used to run
    twice per row)."""
    if not payload:
        return "fake"
    if bytes(payload[: len(_PNG_MAGIC)]) == _PNG_MAGIC:
        return "png"
    if bytes(payload[:3]) == b"\xff\xd8\xff":
        from demy_spark.jpeg import sniff_baseline

        if sniff_baseline(bytes(payload)):
            return "jpeg"
    return "fake"


def _auto_decode_ex(
    payload: bytes | None, h: int, w: int, c: int = 3
) -> tuple[list[float], bool]:
    """(pixels, decode_real) in one pass — the decode_image fast path
    for the default decoder."""
    kind = _auto_kind(payload)
    if kind == "png":
        return _png_decode(payload, h, w, c), True
    if kind == "jpeg":
        return _jpeg_decode(payload, h, w, c), True
    return _fake_decode(payload, h, w, c), False


def _auto_decode(payload: bytes | None, h: int, w: int, c: int = 3) -> list[float]:
    """Dependency-free default: REAL pure-Python decode for PNG
    payloads and JPEG payloads (baseline r10, progressive r11); the
    deterministic fake for UNSUPPORTED FORMAT CLASSES
    (lossless/arithmetic JPEG variants, video and audio codecs are C
    libraries this container does not ship). CORRUPT payloads of a
    supported class (truncated JPEG entropy, damaged PNG) raise —
    same surfaced-error contract as ``_pillow_decode``; quarantine
    corrupt media upstream."""
    return _auto_decode_ex(payload, h, w, c)[0]


def default_image_decoder():
    """Pillow-backed decode when the library is present; otherwise
    ``_auto_decode`` — REAL pixels for PNG via the vendored
    pure-stdlib decoder, the clearly-marked deterministic fake for
    formats that need a codec library. The operator is fully
    production-real the moment Pillow exists, with no code change."""
    return _pillow_decode if pillow_available() else _auto_decode


def decode_image(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    channels: int = 3,
    default_hw: tuple[int, int] = (8, 8),
    decoder=None,
) -> DataFrame:
    """Decode media payloads to flat pixel arrays (media_id, height,
    width, channels, pixels array<float>, row-major HWC).

    Arrow-batched ``mapInPandas``; height/width come from the typed
    ``meta`` struct when present (``default_hw`` otherwise). The
    ``decoder(payload, h, w, c) -> list[float]`` defaults to
    ``default_image_decoder()``: REAL Pillow decode when the library
    is importable, else the clearly-marked deterministic fake
    ``_fake_decode`` — so the schema, batching and downstream ops
    (resize, feature extraction) are identical and tested either way.
    Pass an explicit decoder (opencv, the fake for reproducible CI)
    to override detection."""
    dec = decoder or default_image_decoder()
    dh, dw = default_hw
    # the default decoder classifies each payload ONCE and returns
    # (pixels, real) together; explicit decoders use the predicate
    ex = _auto_decode_ex if dec is _auto_decode else None
    realness = _decode_realness(dec)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            meta = pdf["meta"] if "meta" in pdf.columns else None
            hs, ws, px, real = [], [], [], []
            for i in range(len(pdf)):
                m = meta.iloc[i] if meta is not None else None
                h = int(m["height"]) if m is not None and m["height"] else dh
                w = int(m["width"]) if m is not None and m["width"] else dw
                hs.append(h)
                ws.append(w)
                payload = pdf[payload_col].iloc[i]
                if ex is not None:
                    p, r = ex(payload, h, w, channels)
                else:
                    p, r = dec(payload, h, w, channels), realness(payload)
                px.append(p)
                real.append(r)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": hs,
                    "width": ws,
                    "channels": channels,
                    "pixels": px,
                    "decode_real": real,
                }
            )

    return df.mapInPandas(batches, DECODED_SCHEMA)


def _decode_realness(dec):
    """Per-payload realness predicate for the ``decode_real`` column:
    the known decoders report exactly which payloads got REAL pixels
    (_auto_decode: PNG + baseline JPEG since r10); an explicit
    caller-supplied decoder is trusted as real — callers passing
    ``_fake_decode`` for reproducible CI get the honest False."""
    if dec is _fake_decode:
        return lambda p: False
    if dec is _auto_decode:
        return lambda p: _auto_kind(p) != "fake"
    return lambda p: p is not None


def resize_image(
    decoded: DataFrame, out_h: int, out_w: int, *, pixels_col: str = "pixels"
) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel arrays to (out_h,
    out_w) — REAL math (numpy fancy-indexing per Arrow batch), no codec
    needed, so the full decode → resize → train-tensor path is
    exercised end to end. Output schema matches DECODED_SCHEMA with the
    new dimensions."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = []
            for i in range(len(pdf)):
                h, w, c = int(pdf["height"].iloc[i]), int(pdf["width"].iloc[i]), int(
                    pdf["channels"].iloc[i]
                )
                img = np.asarray(pdf[pixels_col].iloc[i], dtype=np.float32).reshape(
                    h, w, c
                )
                ri = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                ci = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                res.append(img[ri][:, ci].ravel().tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": out_h,
                    "width": out_w,
                    "channels": pdf["channels"],
                    "pixels": res,
                    # resizing fake pixels does not make them real
                    "decode_real": pdf.get(
                        "decode_real", pd.Series([None] * len(pdf))
                    ),
                }
            )

    return decoded.mapInPandas(batches, DECODED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_real", T.BooleanType()),
    ]
)


def _iter_boxes(payload: bytes, lo: int, hi: int):
    """Yield ``(type, body_lo, box_end)`` for the ISO BMFF boxes in
    ``payload[lo:hi]`` (shared by the metadata and sample walkers)."""
    pos = lo
    while pos + 8 <= hi:
        size = int.from_bytes(payload[pos : pos + 4], "big")
        btype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > hi:
                raise ValueError("mp4 largesize truncated")
            size = int.from_bytes(payload[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:
            size = hi - pos
        if size < 8 or pos + size > hi:
            raise ValueError("mp4 box size out of bounds")
        yield btype, body, pos + size
        pos += size


def _find_box(payload: bytes, lo: int, hi: int, btype: bytes):
    for t, body, end in _iter_boxes(payload, lo, hi):
        if t == btype:
            return body, end
    return None


def _mp4_fragment_samples(payload: bytes, track_id: int):
    """REAL fragmented-MP4 sample walk (ISO/IEC 14496-12 §8.8 — the
    moof/traf/trun shape DASH/HLS captures and streamed recordings
    produce, r11): trex defaults from moov/mvex, per-fragment tfhd
    overrides (explicit base-data-offset, default-base-is-moof, or
    the legacy first-traf-at-moof rule with subsequent trafs chained
    off the previous traf's data end), tfdt decode times, and trun
    sample rows (signed data offset, optional per-sample duration/
    size/flags, first-sample-flags). Returns ``(samples, sync_set)``
    like the stbl walk — sync derived from the non-sync sample-flag
    bit when any flag information exists, None (= all sync) when
    none does. Hostile counts are byte-bounded before any list is
    built (the stco lesson)."""
    n = len(payload)

    def be32(pos: int) -> int:
        return int.from_bytes(payload[pos : pos + 4], "big")

    d_dur = d_size = d_flags = 0
    flags_seen = False
    moov = _find_box(payload, 0, n, b"moov")
    if moov is not None:
        mvex = _find_box(payload, *moov, b"mvex")
        if mvex is not None:
            for t, lo, hi in _iter_boxes(payload, *mvex):
                if t == b"trex" and hi - lo >= 24:
                    if be32(lo + 4) in (track_id, 0) or track_id == 0:
                        d_dur = be32(lo + 12)
                        d_size = be32(lo + 16)
                        d_flags = be32(lo + 20)
                        flags_seen = flags_seen or d_flags != 0

    samples: list[tuple[int, int, int]] = []
    sync: set[int] = set()
    decode_ts = 0  # continues across fragments unless tfdt resets it
    for t, moof_body, moof_end in _iter_boxes(payload, 0, n):
        if t != b"moof":
            continue
        # the box START (base for default-base-is-moof / legacy rule):
        # 8-byte header normally, 16 when size==1 carried a largesize
        moof_start = moof_body - 8
        if (
            moof_body >= 16
            and payload[moof_body - 16 + 4 : moof_body - 16 + 8] == b"moof"
            and int.from_bytes(payload[moof_body - 16 : moof_body - 12], "big") == 1
        ):
            moof_start = moof_body - 16
        legacy_base = moof_start
        for t2, traf_body, traf_end in _iter_boxes(payload, moof_body, moof_end):
            if t2 != b"traf":
                continue
            tfhd = _find_box(payload, traf_body, traf_end, b"tfhd")
            if tfhd is None:
                raise ValueError("mp4 traf without tfhd")
            fl = int.from_bytes(payload[tfhd[0] + 1 : tfhd[0] + 4], "big")
            pos = tfhd[0] + 4
            tid = be32(pos)
            pos += 4
            if track_id and tid != track_id:
                continue
            base = None
            if fl & 0x01:
                base = int.from_bytes(payload[pos : pos + 8], "big")
                pos += 8
            if fl & 0x02:
                pos += 4  # sample-description-index
            tf_dur = d_dur
            if fl & 0x08:
                tf_dur = be32(pos)
                pos += 4
            tf_size = d_size
            if fl & 0x10:
                tf_size = be32(pos)
                pos += 4
            tf_flags = d_flags
            if fl & 0x20:
                tf_flags = be32(pos)
                pos += 4
                flags_seen = True
            if base is None:
                # default-base-is-moof (0x20000) and the legacy rule
                # both start at the moof for the FIRST traf; legacy
                # subsequent trafs chain off the previous data end
                base = moof_start if fl & 0x20000 else legacy_base
            tfdt = _find_box(payload, traf_body, traf_end, b"tfdt")
            if tfdt is not None:
                ver = payload[tfdt[0]]
                decode_ts = int.from_bytes(
                    payload[tfdt[0] + 4 : tfdt[0] + (12 if ver == 1 else 8)],
                    "big",
                )
            for t3, trun_body, trun_end in _iter_boxes(
                payload, traf_body, traf_end
            ):
                if t3 != b"trun":
                    continue
                tfl = int.from_bytes(payload[trun_body + 1 : trun_body + 4], "big")
                pos = trun_body + 4
                cnt = be32(pos)
                pos += 4
                data_off = 0
                if tfl & 0x01:
                    data_off = int.from_bytes(
                        payload[pos : pos + 4], "big", signed=True
                    )
                    pos += 4
                first_flags = None
                if tfl & 0x04:
                    first_flags = be32(pos)
                    pos += 4
                    flags_seen = True
                per = sum(
                    4 for bit in (0x100, 0x200, 0x400, 0x800) if tfl & bit
                )
                # hostile-count guards BEFORE building any list: row
                # bytes must fit the trun body; an all-defaults trun
                # is bounded by the payload itself
                if per and cnt * per > trun_end - pos:
                    raise ValueError("mp4 trun rows exceed box size")
                if not per and cnt > n:
                    raise ValueError("mp4 trun count exceeds payload")
                if tfl & 0x400:
                    flags_seen = True
                off = base + data_off
                # data_offset is SIGNED (ISO 14496-12 8.8.8.2): a
                # hostile negative offset must fail loud before any
                # sample slice reads wrong bytes with frame_real=true.
                # off only grows by unsigned sizes past this point,
                # so the one check here covers every sample (ADVICE
                # r12: the former in-loop check could only ever trip
                # on the first iteration). cnt-gated to stay exactly
                # equivalent: an EMPTY trun never slices, and the old
                # in-loop check never executed for it.
                if cnt and off < 0:
                    raise ValueError(
                        "mp4 fragment sample offset before payload start"
                    )
                for si in range(cnt):
                    dur = tf_dur
                    if tfl & 0x100:
                        dur = be32(pos)
                        pos += 4
                    size = tf_size
                    if tfl & 0x200:
                        size = be32(pos)
                        pos += 4
                    sflags = tf_flags
                    if tfl & 0x400:
                        sflags = be32(pos)
                        pos += 4
                    elif si == 0 and first_flags is not None:
                        sflags = first_flags
                    if tfl & 0x800:
                        pos += 4  # composition-time offset: unused
                    if off + size > n:
                        raise ValueError(
                            "mp4 fragment sample runs past end of payload"
                        )
                    samples.append((decode_ts, off, size))
                    if not sflags & 0x10000:  # not non-sync => keyframe
                        sync.add(len(samples))
                    decode_ts += dur
                    off += size
                legacy_base = max(legacy_base, off)
    if not samples:
        return None
    return samples, (sync if flags_seen else None)


def _mp4_video_samples(payload: bytes):
    """REAL ISO BMFF sample-table walk for the first VIDEO track:
    resolve every sample's (timestamp, byte offset, byte size) from
    stts/stsz/stsc/stco(co64), plus the stss sync-sample set. Returns
    ``(timescale, samples, sync_set)`` with samples as a list of
    ``(ts_units, offset, size)``, or None when the payload is not a
    parseable BMFF file with a video track. This is EXTRACTION, not
    decode: the bytes are the still-encoded access units a GPU-decode
    stage consumes."""
    try:
        moov = _find_box(payload, 0, len(payload), b"moov")
        if moov is None:
            return None
        for t, trak_lo, trak_hi in _iter_boxes(payload, *moov):
            if t != b"trak":
                continue
            mdia = _find_box(payload, trak_lo, trak_hi, b"mdia")
            if mdia is None:
                continue
            hdlr = _find_box(payload, *mdia, b"hdlr")
            if hdlr is None or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
                continue
            mdhd = _find_box(payload, *mdia, b"mdhd")
            if mdhd is None:
                return None
            ver = payload[mdhd[0]]
            timescale = int.from_bytes(
                payload[mdhd[0] + (20 if ver == 1 else 12) :][:4], "big"
            )
            tkhd = _find_box(payload, trak_lo, trak_hi, b"tkhd")
            track_id = 0
            if tkhd is not None:
                tv = payload[tkhd[0]]
                tid_off = tkhd[0] + (20 if tv == 1 else 12)
                track_id = int.from_bytes(payload[tid_off : tid_off + 4], "big")
            minf = _find_box(payload, *mdia, b"minf")
            if minf is None:
                return None
            stbl = _find_box(payload, *minf, b"stbl")
            if stbl is None:
                return None

            def full(btype: bytes):
                box = _find_box(payload, *stbl, btype)
                return None if box is None else box[0] + 4  # skip ver/flags

            def counted(pos: int, entry_bytes: int) -> int:
                """A table's declared entry count, bounded by the
                bytes that could actually hold it — hostile counts
                must fail fast, not allocate (r10: a corrupt stco
                count OOM-looped before this guard)."""
                n = int.from_bytes(payload[pos : pos + 4], "big")
                if n * entry_bytes > len(payload):
                    raise ValueError("mp4 sample-table count exceeds payload")
                return n

            def be32s(pos: int, n: int) -> list[int]:
                return [
                    int.from_bytes(payload[pos + 4 * i : pos + 4 * i + 4], "big")
                    for i in range(n)
                ]

            def stbl_walk():
                """(samples, sync) from the classic sample tables, or
                None when the required tables are absent — the
                fragmented-MP4 (fMP4) shape, where moov carries an
                empty/missing stbl and samples live in moof/trun."""
                p = full(b"stsz")
                if p is None:
                    return None
                fixed = int.from_bytes(payload[p : p + 4], "big")
                if fixed:
                    # fixed-size samples carry no size table: bound the
                    # count by the payload bytes the samples occupy
                    count = int.from_bytes(payload[p + 4 : p + 8], "big")
                    if count * max(fixed, 1) > len(payload):
                        raise ValueError("mp4 stsz count exceeds payload")
                    sizes = [fixed] * count
                else:
                    count = counted(p + 4, 4)
                    sizes = be32s(p + 8, count)

                co = full(b"stco")
                if co is not None:
                    n_chunks = counted(co, 4)
                    offsets = be32s(co + 4, n_chunks)
                else:
                    co = full(b"co64")
                    if co is None:
                        return None
                    n_chunks = counted(co, 8)
                    offsets = [
                        int.from_bytes(
                            payload[co + 4 + 8 * i : co + 12 + 8 * i], "big"
                        )
                        for i in range(n_chunks)
                    ]

                p = full(b"stsc")
                if p is None:
                    return None
                n_runs = counted(p, 12)
                runs = [
                    (
                        int.from_bytes(payload[p + 4 + 12 * i : p + 8 + 12 * i], "big"),
                        int.from_bytes(payload[p + 8 + 12 * i : p + 12 + 12 * i], "big"),
                    )
                    for i in range(n_runs)
                ]

                p = full(b"stts")
                if p is None:
                    return None
                n_tt = counted(p, 8)
                deltas: list[int] = []
                for i in range(n_tt):
                    cnt = int.from_bytes(payload[p + 4 + 8 * i : p + 8 + 8 * i], "big")
                    delta = int.from_bytes(payload[p + 8 + 8 * i : p + 12 + 8 * i], "big")
                    if cnt > count:
                        raise ValueError("mp4 stts run exceeds sample count")
                    deltas.extend([delta] * min(cnt, count - len(deltas)))
                while len(deltas) < count:
                    deltas.append(deltas[-1] if deltas else 0)

                sync: set[int] | None = None
                p = full(b"stss")
                if p is not None:
                    n_sync = counted(p, 4)
                    sync = set(be32s(p + 4, n_sync))  # 1-based numbers

                samples = []
                ts = 0
                si = 0
                for ci in range(n_chunks):
                    spc = 1
                    for first, per in runs:
                        if first <= ci + 1:
                            spc = per
                    off = offsets[ci]
                    for _ in range(spc):
                        if si >= count:
                            break
                        size = sizes[si]
                        if off + size > len(payload):
                            raise ValueError(
                                "mp4 sample runs past end of payload"
                            )
                        samples.append((ts, off, size))
                        ts += deltas[si]
                        off += size
                        si += 1
                if si < count:
                    raise ValueError(
                        "mp4 chunk map covers fewer samples than stsz"
                    )
                return samples, sync

            walked = stbl_walk()
            if walked is not None and walked[0]:
                return timescale, walked[0], walked[1]
            # fMP4 (r11): empty/absent sample tables — samples live in
            # movie fragments (moof/traf/trun)
            frag = _mp4_fragment_samples(payload, track_id)
            if frag is not None and frag[0]:
                return timescale, frag[0], frag[1]
            if walked is not None:
                return timescale, walked[0], walked[1]  # genuinely empty
            return None
        return None  # BMFF but no video track
    except (ValueError, IndexError):
        return None


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    every_ms: int = 1000,
    frame_size: int = 256,
    keyframes_only: bool = False,
    max_frames: int = 10_000,
) -> DataFrame:
    """Sample frames from video payloads at ``every_ms`` intervals —
    a fan-out (1 → N rows) mapInPandas, the plan shape a real ffmpeg
    sampler has.

    REAL for ISO BMFF payloads: the stbl sample tables (r10) — or,
    for fragmented MP4 (r11), the moof/traf/trun fragment tables the
    DASH/HLS capture shape uses — resolve every encoded sample's
    (timestamp, offset, size), and each target timestamp yields the
    last sample at-or-before it (restricted to sync samples when
    ``keyframes_only``: stss for classic files, the non-sync
    sample-flag bit for fragmented ones) — the frame BYTES are
    the still-encoded access units a downstream GPU decoder consumes,
    with ``frame_real = true``. Non-BMFF payloads keep the clearly
    marked deterministic chunker against the meta duration
    (``frame_real = false``); swap ffmpeg bindings in for actual
    pixel decode — the schema, fan-out and timestamps stay.

    ``keyframes_only`` with no sync information samples everything
    (ISO 14496-12: absent stss means every sample is sync; fragments
    with no flag fields anywhere read the same way); sync info that
    marks NO valid samples yields zero rows for that payload
    rather than silently degrading to non-keyframes. The per-payload
    fan-out is capped at ``max_frames`` rows — the timeline length is
    computed from UNTRUSTED header fields (stts deltas x timescale),
    so one corrupt 4-byte delta must not fan a row into billions
    (r10 review); raise the cap for legitimately long footage."""
    from bisect import bisect_right

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, tss, frames, real = [], [], [], [], []
            for i in range(len(pdf)):
                payload = bytes(pdf[payload_col].iloc[i] or b"")
                meta = pdf["meta"].iloc[i] if "meta" in pdf.columns else None
                parsed = _mp4_video_samples(payload) if payload else None
                if parsed and parsed[1]:
                    timescale, samples, sync = parsed
                    if keyframes_only and sync is not None:
                        cand = [
                            s for k, s in enumerate(samples) if (k + 1) in sync
                        ]
                        if not cand:
                            continue  # no keyframes: nothing to sample
                    else:
                        cand = samples
                    ts_ms_list = [
                        (t * 1000) // timescale if timescale else 0
                        for t, _, _ in cand
                    ]
                    total_ms = (
                        (samples[-1][0] * 1000) // timescale if timescale else 0
                    )
                    n_frames = min(max(total_ms // every_ms, 0) + 1, max_frames)
                    for k in range(int(n_frames)):
                        # ts_ms_list is nondecreasing (unsigned stts
                        # deltas): binary-search the last sample
                        # at-or-before the target
                        j = max(bisect_right(ts_ms_list, k * every_ms) - 1, 0)
                        _, off, size = cand[j]
                        ids.append(pdf["media_id"].iloc[i])
                        idxs.append(k)
                        tss.append(ts_ms_list[j])
                        frames.append(payload[off : off + size])
                        real.append(True)
                    continue
                duration = (
                    int(meta["duration_ms"]) if meta is not None and meta["duration_ms"] else 0
                )
                # the meta duration is as untrusted as the BMFF header
                # fields: the cap bounds BOTH fan-out branches
                n_frames = (
                    min(max(duration // every_ms, 1), max_frames)
                    if payload
                    else 0
                )
                for k in range(n_frames):
                    off = (k * frame_size) % max(len(payload), 1)
                    ids.append(pdf["media_id"].iloc[i])
                    idxs.append(k)
                    tss.append(k * every_ms)
                    frames.append(bytes(payload[off : off + frame_size]))
                    real.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "frame_bytes": frames,
                    "frame_real": pd.Series(real, dtype="bool"),
                }
            )

    return df.mapInPandas(batches, FRAME_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("decode_real", T.BooleanType()),
    ]
)


def _pcm_normalize(raw: bytes, width: int):
    """Full-scale-normalised float64 samples from little-endian PCM
    bytes (8-bit unsigned, 16/24/32-bit signed), or None for widths
    PCM does not define."""
    import numpy as np

    if width == 1:  # 8-bit unsigned, full scale 128 around bias 128
        return (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if width == 2:
        return np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    if width == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        return v.astype(np.float64) / float(1 << 23)
    if width == 4:
        return np.frombuffer(raw, dtype="<i4").astype(np.float64) / float(1 << 31)
    return None


def _ulaw_to_i16(b: int) -> int:
    """ITU-T G.711 mu-law expansion to 16-bit (the published segment
    formula at audioop's <<2 scaling: byte 0x00 -> -32124)."""
    u = ~b & 0xFF
    x = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return -x if u & 0x80 else x


def _alaw_to_i16(b: int) -> int:
    """ITU-T G.711 A-law expansion to 16-bit (published formula at
    audioop's <<3 scaling: byte 0x55 -> -8; the SET sign bit is
    positive in A-law)."""
    a = b ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0x0F
    x = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return x if a & 0x80 else -x


_G711_LUTS: dict[int, "object"] = {}


def _wav_samples_manual(payload: bytes):
    """RIFF fallback for WAV formats the stdlib ``wave`` module
    rejects (r11): WAVE_FORMAT_EXTENSIBLE (0xFFFE — how 24-bit PCM
    usually ships; the wrapped format is the SubFormat GUID's first
    two bytes per the published WAVEFORMATEXTENSIBLE layout), IEEE
    float32/float64 (tag 3), and ITU-T G.711 A-law/mu-law (tags 6/7 —
    telephony speech corpora; expansion cross-checked against audioop
    in tests). Same (rate, n_channels, frames x channels) contract as
    the stdlib path."""
    import numpy as np

    n = len(payload)
    if n < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = pos + 8
        end = min(body + size, n)
        if cid == b"fmt " and fmt is None:
            fmt = payload[body:end]
        elif cid == b"data" and data is None:
            data = payload[body:end]
        pos = body + size + (size & 1)
    if fmt is None or data is None or len(fmt) < 16:
        return None
    import struct as _struct

    tag, nch, rate, _br, _ba, bits = _struct.unpack("<HHIIHH", fmt[:16])
    if tag == 0xFFFE:
        if len(fmt) < 26:
            return None
        tag = int.from_bytes(fmt[24:26], "little")
    # non-byte-multiple depths (extensible 12/20-bit pack bits across
    # byte boundaries) would floor to the wrong width and misparse the
    # PCM data — refuse them so the caller takes the flagged-fake path
    if nch < 1 or bits < 8 or bits % 8:
        return None
    width = bits // 8
    frame = width * nch
    data = data[: (len(data) // frame) * frame]
    if tag == 1:  # PCM under an extensible wrapper
        if width not in (1, 2, 3, 4):
            return None
        x = _pcm_normalize(data, width)
        if x is None:
            return None
    elif tag == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(data, dtype="<f8")
        else:
            return None
    elif tag in (6, 7):  # G.711
        if bits != 8:
            return None
        lut = _G711_LUTS.get(tag)
        if lut is None:
            expand = _alaw_to_i16 if tag == 6 else _ulaw_to_i16
            lut = np.array([expand(b) for b in range(256)], dtype=np.float64)
            _G711_LUTS[tag] = lut
        x = lut[np.frombuffer(data, dtype=np.uint8)] / 32768.0
    else:
        return None
    return rate, nch, x.astype(np.float64).reshape(-1, nch)


def _ext80_pack(x: int) -> bytes:
    """80-bit x87 extended float for an integer (AIFF sample rates —
    the published IEEE 754 double-extended layout: 15-bit biased
    exponent, explicit-integer-bit 64-bit mantissa)."""
    import struct as _struct

    if x == 0:
        return bytes(10)
    e = x.bit_length() - 1
    return _struct.pack(">HQ", 16383 + e, x << (63 - e))


def _ext80_unpack(b: bytes) -> float:
    se = int.from_bytes(b[:2], "big")
    m = int.from_bytes(b[2:10], "big")
    if m == 0 and (se & 0x7FFF) == 0:
        return 0.0
    sign = -1.0 if se & 0x8000 else 1.0
    return sign * m * 2.0 ** ((se & 0x7FFF) - 16383 - 63)


def _aiff_samples(payload: bytes):
    """REAL AIFF/AIFC decode (r11 — the other codec-free audio
    container): IFF chunk walk of the published AIFF-1.3 layout —
    COMM (channels, frames, sampleSize, ext80 sampleRate, AIFC
    compressionType) + SSND (offset/blockSize header then sample
    data). 'NONE' is big-endian signed PCM, 'sowt' little-endian;
    8-bit AIFF PCM is SIGNED (unlike WAV). Same tuple contract as
    ``_wav_samples``; anything else (compressed AIFC, odd widths)
    returns None for the flagged fake."""
    import numpy as np

    n = len(payload)
    if n < 12 or payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF", b"AIFC"):
        return None
    is_aifc = payload[8:12] == b"AIFC"
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "big")
        body = pos + 8
        end = min(body + size, n)
        if cid == b"COMM" and comm is None:
            comm = payload[body:end]
        elif cid == b"SSND" and ssnd is None:
            ssnd = payload[body:end]
        pos = body + size + (size & 1)
    if comm is None or ssnd is None or len(comm) < 18 or len(ssnd) < 8:
        return None
    nch = int.from_bytes(comm[0:2], "big")
    bits = int.from_bytes(comm[6:8], "big")
    rate = int(round(_ext80_unpack(comm[8:18])))
    little = False
    if is_aifc:
        ctype = comm[18:22] if len(comm) >= 22 else b""
        if ctype == b"sowt":
            little = True
        elif ctype != b"NONE":
            return None  # compressed AIFC needs a codec library
    if nch < 1 or bits not in (8, 16, 24, 32) or rate <= 0:
        return None
    width = bits // 8
    ssnd_off = int.from_bytes(ssnd[0:4], "big")
    raw = ssnd[8 + ssnd_off :]
    frame = width * nch
    raw = raw[: (len(raw) // frame) * frame]
    order = "<" if little else ">"
    if width == 1:  # SIGNED 8-bit (WAV's is unsigned)
        x = np.frombuffer(raw, dtype=np.int8).astype(np.float64) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype=f"{order}i2").astype(np.float64) / 32768.0
    elif width == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        lo, mid, hi = ((0, 1, 2) if little else (2, 1, 0))
        v = b[:, lo] | (b[:, mid] << 8) | (b[:, hi] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    else:
        x = np.frombuffer(raw, dtype=f"{order}i4").astype(np.float64) / float(1 << 31)
    return rate, nch, x.reshape(-1, nch)


def _wav_samples(payload: bytes):
    """REAL uncompressed-audio decode. Returns ``(sample_rate,
    n_channels, x)`` with ``x`` the full-scale-normalised float64
    samples as a (frames, channels) array, or None for
    codec-compressed payloads (callers mark those rows fake). Plain
    PCM WAV goes through the stdlib ``wave`` module; formats it
    rejects fall back to the manual RIFF parser (extensible / IEEE
    float / G.711 — r11) and then the AIFF/AIFC parser (r11)."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as wf:
            nch = wf.getnchannels()
            rate = wf.getframerate()
            nframes = wf.getnframes()
            width = wf.getsampwidth()
            raw = wf.readframes(nframes)
    except (wave.Error, EOFError):
        out = _wav_samples_manual(payload)
        if out is None:
            out = _aiff_samples(payload)
        return out
    if nch < 1 or width < 1:
        return None
    # a truncated data chunk can hand back a partial trailing frame:
    # trim to whole samples, then whole frames, instead of letting
    # frombuffer/reshape kill the batch (r10 review)
    frame_bytes = width * nch
    raw = raw[: (len(raw) // frame_bytes) * frame_bytes]
    x = _pcm_normalize(raw, width)
    if x is None:
        return None
    return rate, nch, x.reshape(-1, nch)


def _wav_features(payload: bytes) -> tuple | None:
    """Header metadata plus RMS/peak over the normalised samples —
    the stats layer over :func:`_wav_samples`."""
    import numpy as np

    decoded = _wav_samples(payload)
    if decoded is None:
        return None
    rate, nch, x = decoded
    nframes = x.shape[0]
    rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
    peak = float(np.abs(x).max()) if x.size else 0.0
    return (
        rate,
        nch,
        nframes,
        (nframes * 1000) // rate if rate else 0,
        rms,
        peak,
    )


def extract_audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Audio feature extraction over binary payloads — REAL for PCM
    WAV (pure stdlib ``wave``, the one audio container that needs no
    codec library; 8/16/24/32-bit widths): header metadata plus
    full-scale-normalised RMS and peak. Compressed formats (mp3/ogg/
    flac) get NULL features with ``decode_real = false`` — honest and
    machine-visible per row, the same contract as image decode; swap
    in soundfile/ffmpeg bindings in production and only this UDF body
    changes. Arrow-batched ``mapInPandas``; scale shape is pure map."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = {k: [] for k in ("sample_rate", "n_channels", "n_samples",
                                    "duration_ms", "rms", "peak", "decode_real")}
            for i in range(len(pdf)):
                payload = pdf[payload_col].iloc[i]
                feats = (
                    _wav_features(bytes(payload))
                    if payload is not None
                    and bytes(payload[:4]) in (b"RIFF", b"FORM")
                    else None
                )
                if feats is None:
                    for k in cols:
                        cols[k].append(False if k == "decode_real" else None)
                else:
                    rate, nch, ns, dur, rms, peak = feats
                    cols["sample_rate"].append(rate)
                    cols["n_channels"].append(nch)
                    cols["n_samples"].append(ns)
                    cols["duration_ms"].append(dur)
                    cols["rms"].append(rms)
                    cols["peak"].append(peak)
                    cols["decode_real"].append(True)
            yield pd.DataFrame({"media_id": pdf["media_id"], **cols})

    return df.mapInPandas(batches, AUDIO_SCHEMA)


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("samples", T.ArrayType(T.FloatType())),
        T.StructField("decode_real", T.BooleanType()),
    ]
)


def _fake_audio(payload: bytes | None, n: int = 256) -> list[float]:
    """Deterministic fake waveform (sha256 keystream mapped to
    [-1, 1]) for payloads that need a codec library — same contract
    as ``_fake_decode`` for pixels: shape-compatible, clearly marked
    via ``decode_real``."""
    seed = hashlib.sha256(bytes(payload or b"")).digest()
    out = []
    block = seed
    while len(out) < n:
        block = hashlib.sha256(block).digest()
        out.extend(b / 127.5 - 1.0 for b in block)
    return out[:n]


def decode_audio(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    target_rate: int | None = None,
    mono: bool = False,
    decoder=None,
) -> DataFrame:
    """Decode audio payloads to waveform tensors (media_id,
    sample_rate, n_channels, n_samples, samples array<float>
    interleaved frame-major, decode_real) — the audio twin of
    ``decode_image``. REAL for PCM WAV (:func:`_wav_samples`);
    compressed formats get the deterministic fake keystream with
    ``decode_real = false``. ``mono`` mixes channels by arithmetic
    mean; ``target_rate`` nearest-resamples (the same index-mapping
    convention as the image resize — swap in a windowed-sinc UDF for
    production fidelity, only this body changes). Arrow-batched
    ``mapInPandas``; pure map shape.

    ``decoder`` is the compressed-codec upgrade injection point (the
    ``decode_image(decoder=...)`` analog — COVERAGE.md compressed-audio
    policy): ``decoder(payload: bytes) -> (rate, n_channels,
    np.ndarray[frames, channels]) | None``. It is tried FIRST for every
    payload and trusted as real when it returns; ``None`` falls back to
    the built-in PCM-WAV path, then the flagged fake. Wrap soundfile /
    audioread / ffmpeg here on clusters that ship a codec library —
    only this argument changes, the plan shape stays pure map."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = {k: [] for k in ("sample_rate", "n_channels",
                                    "n_samples", "samples", "decode_real")}
            for i in range(len(pdf)):
                payload = pdf[payload_col].iloc[i]
                decoded = None
                if payload is not None:
                    if decoder is not None:
                        decoded = decoder(bytes(payload))
                    if decoded is None and bytes(payload[:4]) in (b"RIFF", b"FORM"):
                        decoded = _wav_samples(bytes(payload))
                if decoded is None:
                    cols["sample_rate"].append(8000)
                    cols["n_channels"].append(1)
                    cols["n_samples"].append(256)
                    cols["samples"].append(_fake_audio(payload))
                    cols["decode_real"].append(False)
                    continue
                rate, nch, x = decoded
                if mono and nch > 1:
                    x = x.mean(axis=1, keepdims=True)
                    nch = 1
                if target_rate and rate and target_rate != rate:
                    n_out = (x.shape[0] * target_rate) // rate
                    idx = (np.arange(n_out) * rate // target_rate).clip(
                        0, max(x.shape[0] - 1, 0)
                    )
                    x = x[idx] if x.shape[0] else x[:0]
                    rate = target_rate
                cols["sample_rate"].append(rate)
                cols["n_channels"].append(nch)
                cols["n_samples"].append(x.shape[0])
                cols["samples"].append(
                    x.astype(np.float32).ravel().tolist()
                )
                cols["decode_real"].append(True)
            yield pd.DataFrame({"media_id": pdf["media_id"], **cols})

    return df.mapInPandas(batches, DECODED_AUDIO_SCHEMA)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("parse_real", T.BooleanType()),
    ]
)

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def _mp4_metadata(payload: bytes) -> tuple | None:
    """REAL ISO BMFF (MP4/MOV) container-metadata parse — pure struct
    walking of the public ISO/IEC 14496-12 box layout: ftyp major
    brand, mvhd timescale/duration, per-trak tkhd presentation dims
    (16.16 fixed point). Frame DECODE stays out of scope (H.264/AV1
    need codec libraries); this makes duration/dims/track-count real
    without one. Returns None when the payload is not a parseable
    BMFF file."""
    import struct as _struct

    n = len(payload)
    brand = None
    duration_ms = None
    dims: list[tuple[int, int]] = []
    n_tracks = 0
    saw_moov = False

    def walk(lo: int, hi: int, depth: int) -> None:
        # box framing is ONE implementation (_iter_boxes — r10 review:
        # this walker used to carry its own largesize/size-0 copy)
        nonlocal brand, duration_ms, n_tracks, saw_moov
        if depth > 8:  # hostile nesting (r10 review: moov/trak also
            raise ValueError("mp4 box nesting too deep")  # recurse)
        for btype, body, end in _iter_boxes(payload, lo, hi):
            if btype == b"ftyp" and brand is None:
                brand = payload[body : body + 4].decode("latin-1")
            elif btype == b"moov":
                saw_moov = True
                walk(body, end, depth + 1)
            elif btype == b"mvhd":
                ver = payload[body]
                if ver == 1:
                    ts, dur = _struct.unpack_from(">IQ", payload, body + 20)
                else:
                    ts, dur = _struct.unpack_from(">II", payload, body + 12)
                duration_ms = (dur * 1000) // ts if ts else 0
            elif btype == b"trak":
                n_tracks += 1
                walk(body, end, depth + 1)
            elif btype == b"tkhd":
                ver = payload[body]
                off = body + (88 if ver == 1 else 76)
                w16, h16 = _struct.unpack_from(">II", payload, off)
                if w16 or h16:
                    dims.append((w16 >> 16, h16 >> 16))
            elif btype in _MP4_CONTAINERS:
                walk(body, end, depth + 1)

    try:
        walk(0, n, 0)
    except (ValueError, IndexError, _struct.error, UnicodeDecodeError):
        return None
    if brand is None and not saw_moov:
        return None
    w, h = max(dims) if dims else (0, 0)
    return (brand, duration_ms if duration_ms is not None else 0, w, h, n_tracks)


def _avi_metadata(payload: bytes) -> tuple | None:
    """REAL AVI (RIFF) container-metadata parse — pure struct walk of
    the public RIFF/AVI layout (r11, the BMFF analog for the second
    most common crawled container): 'avih' main header carries
    dwMicroSecPerFrame, dwTotalFrames, dwStreams, dwWidth, dwHeight.
    Chunks are (fourcc, u32-LE size, data, even padding); 'LIST'
    chunks nest. Returns the same 5-tuple shape as ``_mp4_metadata``
    or None when the payload is not a parseable AVI."""
    import struct as _struct

    n = len(payload)
    if n < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    found: list[tuple] = []

    def walk(lo: int, hi: int, depth: int) -> None:
        if depth > 8:
            raise ValueError("avi chunk nesting too deep")
        pos = lo
        while pos + 8 <= hi:
            fourcc = payload[pos : pos + 4]
            (size,) = _struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            end = body + size
            if end > hi:
                raise ValueError("avi chunk runs past its parent")
            if fourcc == b"LIST" and size >= 4:
                walk(body + 4, end, depth + 1)
            elif fourcc == b"avih":
                if size < 40:
                    raise ValueError("avi main header truncated")
                (usec_pf, _mbps, _pad, _flags, total_frames, _init,
                 streams, _sugg, w, h) = _struct.unpack_from(
                    "<10I", payload, body
                )
                found.append((usec_pf, total_frames, streams, w, h))
            pos = end + (end & 1)  # chunks pad to even offsets

    try:
        walk(12, n, 0)
    except (ValueError, IndexError, _struct.error):
        return None
    if not found:
        return None
    usec_pf, total_frames, streams, w, h = found[0]
    duration_ms = (total_frames * usec_pf) // 1000
    return ("AVI ", duration_ms, w, h, streams)


def _ebml_vint(payload: bytes, pos: int, hi: int, keep_marker: bool) -> tuple[int, int]:
    """One EBML variable-length integer at ``pos``: element IDs keep
    the length-marker bit (matroska convention), sizes strip it.
    Returns (value, next_pos); all-ones value bits with the marker
    stripped mean 'unknown size' and return -1."""
    if pos >= hi:
        raise ValueError("ebml vint past end")
    first = payload[pos]
    if first == 0:
        raise ValueError("ebml vint length > 8")
    length = 8 - first.bit_length() + 1
    if pos + length > hi:
        raise ValueError("ebml vint truncated")
    if keep_marker:
        v = int.from_bytes(payload[pos : pos + length], "big")
    else:
        v = first & ((1 << (8 - length)) - 1)
        for i in range(1, length):
            v = (v << 8) | payload[pos + i]
        if v == (1 << (7 * length)) - 1:
            v = -1  # unknown size: element extends to parent end
    return v, pos + length


# EBML element IDs (public Matroska/WebM spec, with length marker)
_EBML_HEADER = 0x1A45DFA3
_EBML_DOCTYPE = 0x4282
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TS_SCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_VIDEO = 0xE0
_MKV_PIX_W = 0xB0
_MKV_PIX_H = 0xBA
_EBML_CONTAINERS = {_EBML_HEADER, _MKV_SEGMENT, _MKV_INFO, _MKV_TRACKS,
                    _MKV_TRACK_ENTRY, _MKV_VIDEO}


def _ebml_metadata(payload: bytes) -> tuple | None:
    """REAL Matroska/WebM container-metadata parse — pure walk of the
    public EBML layout (r11): DocType as the brand, Info's
    TimestampScale (default 1,000,000 ns) x Duration (float) as the
    duration, TrackEntry count, Video PixelWidth/PixelHeight as dims.
    Unknown-size elements (streamed files) extend to the parent end.
    Returns the ``_mp4_metadata`` 5-tuple or None."""
    import struct as _struct

    n = len(payload)
    if n < 4 or payload[:4] != bytes.fromhex("1A45DFA3"):
        return None
    state = {"doctype": None, "scale": 1_000_000, "dur": None,
             "tracks": 0, "dims": []}

    def walk(lo: int, hi: int, depth: int) -> None:
        if depth > 8:
            raise ValueError("ebml nesting too deep")
        pos = lo
        while pos < hi:
            eid, pos = _ebml_vint(payload, pos, hi, True)
            size, pos = _ebml_vint(payload, pos, hi, False)
            end = hi if size == -1 else pos + size
            if end > hi:
                raise ValueError("ebml element runs past its parent")
            if eid in _EBML_CONTAINERS:
                if eid == _MKV_TRACK_ENTRY:
                    state["tracks"] += 1
                walk(pos, end, depth + 1)
            elif eid == _EBML_DOCTYPE:
                state["doctype"] = (
                    payload[pos:end].split(b"\x00")[0].decode("ascii")
                )
            elif eid == _MKV_TS_SCALE:
                if end - pos > 8:
                    raise ValueError("ebml integer too wide")
                state["scale"] = int.from_bytes(payload[pos:end], "big")
            elif eid == _MKV_DURATION:
                if end - pos == 4:
                    state["dur"] = _struct.unpack_from(">f", payload, pos)[0]
                elif end - pos == 8:
                    state["dur"] = _struct.unpack_from(">d", payload, pos)[0]
                else:
                    raise ValueError("ebml duration width")
            elif eid == _MKV_PIX_W:
                if end - pos > 8:
                    raise ValueError("ebml integer too wide")
                state["dims"].append(
                    ("w", int.from_bytes(payload[pos:end], "big"))
                )
            elif eid == _MKV_PIX_H:
                if end - pos > 8:
                    raise ValueError("ebml integer too wide")
                state["dims"].append(
                    ("h", int.from_bytes(payload[pos:end], "big"))
                )
            pos = end

    try:
        walk(0, n, 0)
    except (ValueError, IndexError, UnicodeDecodeError, _struct.error):
        return None
    if state["doctype"] is None:
        return None
    dur_ms = 0
    if state["dur"] is not None:
        dur_ms = int(state["dur"] * state["scale"] // 1_000_000)
    w = max((v for k, v in state["dims"] if k == "w"), default=0)
    h = max((v for k, v in state["dims"] if k == "h"), default=0)
    return (state["doctype"], dur_ms, w, h, state["tracks"])


def extract_video_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Video container metadata over binary payloads — REAL for ISO
    BMFF (MP4/MOV), AVI/RIFF and Matroska/WebM (r11; all pure struct
    parses, no codec): brand/doctype, duration, largest presentation
    dims, track count. Other payloads get NULLs with ``parse_real =
    false``. Frame DECODE remains the codec-library boundary
    (COVERAGE.md policy); the metadata a curation pipeline filters on
    (duration/resolution/container) is real for the three dominant
    crawled containers."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = {k: [] for k in ("brand", "duration_ms", "width",
                                    "height", "n_tracks", "parse_real")}
            for i in range(len(pdf)):
                payload = pdf[payload_col].iloc[i]
                meta = None
                if payload is not None:
                    raw = bytes(payload)
                    meta = (
                        _mp4_metadata(raw)
                        or _avi_metadata(raw)
                        or _ebml_metadata(raw)
                    )
                if meta is None:
                    for k in cols:
                        cols[k].append(False if k == "parse_real" else None)
                else:
                    brand, dur, w, h, nt = meta
                    cols["brand"].append(brand)
                    cols["duration_ms"].append(dur)
                    cols["width"].append(w)
                    cols["height"].append(h)
                    cols["n_tracks"].append(nt)
                    cols["parse_real"].append(True)
            yield pd.DataFrame({"media_id": pdf["media_id"], **cols})

    return df.mapInPandas(batches, VIDEO_META_SCHEMA)


def encode_avi_stub(
    width: int,
    height: int,
    total_frames: int,
    usec_per_frame: int,
    n_streams: int = 1,
) -> bytes:
    """Header-only AVI (RIFF) for fixtures: a LIST('hdrl') carrying
    the 56-byte 'avih' main header — everything ``_avi_metadata``
    reads, no movi payload (metadata parsing is the scope)."""
    import struct as _struct

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        out = fourcc + _struct.pack("<I", len(data)) + data
        return out + (b"\x00" if len(data) & 1 else b"")

    avih = chunk(
        b"avih",
        _struct.pack(
            "<14I", usec_per_frame, 0, 0, 0, total_frames, 0,
            n_streams, 0, width, height, 0, 0, 0, 0,
        ),
    )
    hdrl = chunk(b"LIST", b"hdrl" + avih)
    return b"RIFF" + _struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl


def _ebml_size_bytes(n: int) -> bytes:
    """Minimal EBML size encoding (fixtures): 1 byte to 126, 2 bytes
    to 16381."""
    if n < 0x7F:  # 0x7F would be the 1-byte unknown-size pattern
        return bytes([0x80 | n])
    if n < 0x3FFF:
        return bytes([0x40 | (n >> 8), n & 0xFF])
    raise ValueError("fixture element too large")


def encode_mkv_stub(
    doctype: str,
    duration: float,
    width: int,
    height: int,
    n_tracks: int = 1,
    timestamp_scale: int | None = None,
    unknown_segment_size: bool = False,
) -> bytes:
    """Minimal Matroska/WebM for fixtures: EBML header with DocType,
    Segment(Info(TimestampScale?, Duration as double), Tracks(video
    TrackEntry with PixelWidth/PixelHeight + bare audio entries)).
    ``unknown_segment_size`` writes the streamed-file convention (the
    all-ones size VINT) that ``_ebml_metadata`` must treat as
    extends-to-end."""
    import struct as _struct

    def elt(eid: bytes, body: bytes) -> bytes:
        return eid + _ebml_size_bytes(len(body)) + body

    def uint(v: int) -> bytes:
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    header = elt(
        bytes.fromhex("1A45DFA3"),
        elt(bytes.fromhex("4282"), doctype.encode("ascii")),
    )
    info_body = b""
    if timestamp_scale is not None:
        info_body += elt(bytes.fromhex("2AD7B1"), uint(timestamp_scale))
    info_body += elt(bytes.fromhex("4489"), _struct.pack(">d", duration))
    info = elt(bytes.fromhex("1549A966"), info_body)
    video = elt(
        b"\xe0",
        elt(b"\xb0", uint(width)) + elt(b"\xba", uint(height)),
    )
    entries = elt(b"\xae", video)
    for _ in range(n_tracks - 1):
        entries += elt(b"\xae", b"")
    tracks = elt(bytes.fromhex("1654AE6B"), entries)
    seg_body = info + tracks
    if unknown_segment_size:
        segment = bytes.fromhex("18538067") + b"\xff" + seg_body
    else:
        segment = elt(bytes.fromhex("18538067"), seg_body)
    return header + segment


def encode_wav_ext(
    payload_samples,
    sample_rate: int,
    n_channels: int = 1,
    *,
    fmt: str = "float32",
) -> bytes:
    """Hand-assembled WAV writer for the formats the stdlib ``wave``
    module cannot write (fixtures for the r11 manual-parser path):
    ``float32``/``float64`` (IEEE tag 3), ``ulaw``/``alaw`` (G.711
    tags 7/6 — samples are the RAW codeword bytes), and
    ``ext-pcm16``/``ext-pcm24`` (the same PCM bytes wrapped in a
    WAVEFORMATEXTENSIBLE header with the published PCM SubFormat
    GUID)."""
    import struct as _struct

    if fmt == "float32":
        tag, bits = 3, 32
        data = _struct.pack(f"<{len(payload_samples)}f", *payload_samples)
    elif fmt == "float64":
        tag, bits = 3, 64
        data = _struct.pack(f"<{len(payload_samples)}d", *payload_samples)
    elif fmt == "ulaw":
        tag, bits = 7, 8
        data = bytes(payload_samples)
    elif fmt == "alaw":
        tag, bits = 6, 8
        data = bytes(payload_samples)
    elif fmt in ("ext-pcm16", "ext-pcm24"):
        bits = 16 if fmt.endswith("16") else 24
        tag = 0xFFFE
        if bits == 16:
            data = _struct.pack(
                f"<{len(payload_samples)}h",
                *[int(s) for s in payload_samples],
            )
        else:
            data = b"".join(
                int(s).to_bytes(3, "little", signed=True)
                for s in payload_samples
            )
    else:
        raise ValueError(f"encode_wav_ext: unknown fmt {fmt!r}")
    width = bits // 8
    block = width * n_channels
    fmt_body = _struct.pack(
        "<HHIIHH", tag, n_channels, sample_rate, sample_rate * block,
        block, bits,
    )
    if tag == 0xFFFE:
        # cbSize, wValidBitsPerSample, dwChannelMask, PCM SubFormat
        # GUID (KSDATAFORMAT_SUBTYPE_PCM, published constant)
        guid = bytes.fromhex("0100000000001000800000aa00389b71")
        fmt_body += _struct.pack("<HHI", 22, bits, 0) + guid
    body = (
        b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt_body)) + fmt_body
        + b"data" + _struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def encode_aiff(
    samples,
    sample_rate: int,
    n_channels: int = 1,
    width: int = 2,
    *,
    compression: bytes = b"",
) -> bytes:
    """Hand-assembled AIFF (or AIFC when ``compression`` is b'NONE' /
    b'sowt') writer for fixtures: COMM with the ext80 sample rate +
    SSND. ``samples`` are interleaved SIGNED ints at the given byte
    width (AIFF 8-bit is signed, unlike WAV)."""
    import struct as _struct

    nframes = len(samples) // n_channels
    little = compression == b"sowt"
    if width == 3:
        data = b"".join(
            int(s).to_bytes(3, "little" if little else "big", signed=True)
            for s in samples
        )
    else:
        fmt = {1: "b", 2: "h", 4: "i"}[width]
        data = _struct.pack(
            f"{'<' if little else '>'}{len(samples)}{fmt}",
            *[int(s) for s in samples],
        )
    comm = (
        _struct.pack(">HIH", n_channels, nframes, width * 8)
        + _ext80_pack(sample_rate)
    )
    form_type = b"AIFF"
    if compression:
        comm += compression + b"\x00\x00"  # pstring name (empty, even)
        form_type = b"AIFC"
    ssnd = _struct.pack(">II", 0, 0) + data

    def chunk(cid: bytes, body: bytes) -> bytes:
        out = cid + _struct.pack(">I", len(body)) + body
        return out + (b"\x00" if len(body) & 1 else b"")

    body = form_type + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + _struct.pack(">I", len(body)) + body


def encode_wav(
    samples, sample_rate: int, n_channels: int = 1, width: int = 2
) -> bytes:
    """Minimal PCM WAV writer (stdlib ``wave``) for fixtures and for
    spooling generated audio; ``samples`` are interleaved ints at the
    given byte width."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(width)
        wf.setframerate(sample_rate)
        if width == 1:
            raw = bytes((int(s) + 128) & 0xFF for s in samples)
        elif width == 3:
            raw = b"".join(
                int(s).to_bytes(3, "little", signed=True) for s in samples
            )
        else:
            import struct as _struct

            fmt = "<" + ("h" if width == 2 else "i") * len(samples)
            raw = _struct.pack(fmt, *[int(s) for s in samples])
        wf.writeframes(raw)
    return buf.getvalue()


def synth_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for plumbing tests: payload bytes
    derived from the id (stable across runs), magic headers rotated
    across mime types."""
    magics = [m for m, _ in _MAGIC]

    rows = []
    for i in range(n):
        body = hashlib.sha256(str(i).encode()).digest() * (1 + i % 7)
        payload = magics[i % len(magics)] + body
        rows.append(
            (
                i,
                bytearray(payload),
                (_sniff(bytes(payload)), 64 + i % 512, 64 + (i * 3) % 512, 1000 * (i % 90)),
            )
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)
