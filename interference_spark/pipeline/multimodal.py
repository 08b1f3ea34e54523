"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side design is real and tested: schema, Arrow batch shape,
``mapInPandas`` operator signatures, partition sizing. Two decoder modes:

* ``decoder="fake"`` — deterministic bytes-derived features; exercises the
  full distributed plumbing on arbitrary payloads (the driver testdata has
  no real media).
* ``decoder="real"`` — genuine decode via the bundled pure-Python codecs:
  PNG (:mod:`.png`) and baseline JPEG (:mod:`.jpeg`) images are
  decoded/resized (resize re-encodes in the source format), RIFF/PCM WAV
  audio (:mod:`.wav`) is parsed for rate/channels/duration/RMS, and APNG
  animations decode to per-frame PNGs (the video-container path). Other
  formats (MP3, MP4, progressive/subsampled JPEG) raise
  ``UnsupportedMedia`` — they need PIL/soundfile/pyav, which a real
  deployment installs, swapping the per-batch codec call inside the same
  operator.

At 100 TB: binary payloads dominate partition size, so every operator here
cuts each incoming pandas batch into chunks of ``BATCH_ROWS`` rows
(``FRAME_BATCH_ROWS`` for ``frame_sample``, whose output rows far outnumber
its input rows) — ``mapInPandas`` yields multiple small pandas batches
instead of one giant one, keeping Arrow transfer and executor memory
bounded. Repartition by size (``spark.sql.files.maxPartitionBytes``) rather
than row count when reading.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_ROWS = 1024
FRAME_BATCH_ROWS = 256

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),      # image|audio|video
        T.StructField("content", T.BinaryType(), True),    # opaque payload
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
        T.StructField("n_frames", T.LongType(), True),
    ]
)


def with_binary_payload(df: DataFrame, src_col: str, id_col: str) -> DataFrame:
    """Wrap an existing column as an opaque binary payload (testdata has no
    real media; any bytes exercise the same plumbing)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col(src_col).cast("binary").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.create_map(F.lit("src"), F.lit(src_col)).alias("meta"),
    )


def _fake_decode(payload: bytes | None, frame_bytes: int) -> tuple[int, str, int]:
    if payload is None:
        return 0, "", 0
    n = len(payload)
    head = payload[:8].hex().upper()
    return n, head, n // frame_bytes + 1


def feature_extract(
    df: DataFrame,
    decoder: str = "fake",
    frame_bytes: int = 256,
) -> DataFrame:
    """Decode/feature-extract over binary payloads via mapInPandas.

    ``fake`` decoder: deterministic features derived from the raw bytes
    (length, first-8-bytes hex, synthetic frame count) — lets every piece of
    the distributed plumbing run and be oracle-checked without codecs.
    ``real`` decoder: PNG/JPEG payloads are genuinely parsed (dimensions from
    IHDR; a still image is 1 frame); other formats raise.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    from . import ensure_parallelism

    df = ensure_parallelism(df)

    def _real_decode(payload: bytes | None) -> tuple[int, str, int]:
        from .jpeg import is_jpeg, jpeg_dims
        from .png import png_dims

        if payload is None:
            return 0, "", 0
        data = bytes(payload)
        # raises UnsupportedMedia if neither PNG nor baseline JPEG
        w, h = jpeg_dims(data) if is_jpeg(data) else png_dims(data)
        return len(payload), f"{w}x{h}", 1

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start : start + BATCH_ROWS]
                if decoder == "real":
                    feats = [_real_decode(c) for c in chunk["content"]]
                else:
                    feats = [
                        _fake_decode(c, frame_bytes) for c in chunk["content"]
                    ]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "byte_len": [f[0] for f in feats],
                        "head_hex": [f[1] for f in feats],
                        "n_frames": [f[2] for f in feats],
                    }
                )

    return df.select("media_id", "content").mapInPandas(op, FEATURE_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_channels", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms_amp", T.LongType(), True),
    ]
)


def audio_features(
    df: DataFrame,
    decoder: str = "fake",
) -> DataFrame:
    """Audio decode / feature extraction over binary payloads.

    ``real``: payloads are parsed as RIFF/PCM WAV by the bundled pure-Python
    codec (:mod:`.wav`) — true sample rate / channels / frame count /
    duration and the rounded RMS amplitude in sample units (non-WAV raises
    ``UnsupportedMedia``; deployments with soundfile swap the per-batch
    codec call). ``fake``: the payload is TREATED as 16 kHz mono PCM16 —
    header-free arithmetic features (n_samples = bytes//2), so the
    distributed plumbing runs on arbitrary payloads and stays
    SQL-oracle-able; RMS is null (computing it belongs to real decode).
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    from . import ensure_parallelism

    df = ensure_parallelism(df)

    def _one(payload, real: bool):
        if payload is None:
            return (None, None, None, None, None)
        if real:
            import numpy as np

            from .wav import parse_wav

            w = parse_wav(bytes(payload))
            s = w["samples"].astype("float64")
            rms = int(round(float(np.sqrt((s * s).mean())))) if s.size else 0
            return (
                w["sample_rate"], w["n_channels"], w["n_frames"],
                w["n_frames"] * 1000 // w["sample_rate"], rms,
            )
        n = len(payload) // 2
        return (16_000, 1, n, n * 1000 // 16_000, None)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start : start + BATCH_ROWS]
                feats = [_one(c, decoder == "real") for c in chunk["content"]]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "sample_rate": [f[0] for f in feats],
                        "n_channels": [f[1] for f in feats],
                        "n_samples": [f[2] for f in feats],
                        "duration_ms": [f[3] for f in feats],
                        "rms_amp": [f[4] for f in feats],
                    }
                )

    return df.select("media_id", "content").mapInPandas(op, AUDIO_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def resize(
    df: DataFrame,
    scale_div: int = 2,
    decoder: str = "fake",
) -> DataFrame:
    """Schema-preserving payload transform (image resize / audio resample).

    ``fake``: keeps every ``scale_div``-th byte — deterministic, size-
    proportional, exercises the binary-in/binary-out Arrow path whose batch
    sizing is the actual scale risk (payloads dominate partition bytes).
    ``real``: PNG/JPEG payloads are decoded, nearest-neighbor downscaled by
    ``scale_div``, and re-encoded as PNG (pure-Python codec; a deployment
    with Pillow swaps the codec call, same operator). Non-PNG raises.
    Records the transform (and real output dims) in ``meta``.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    def _real_resize(payload: bytes | None) -> tuple[bytes | None, str]:
        from .jpeg import encode_jpeg, is_jpeg
        from .png import encode_png, resize_nearest

        if payload is None:
            return None, ""
        data = bytes(payload)
        arr = resize_nearest(decode_image(data), scale_div)
        out = encode_jpeg(arr, quality=90) if is_jpeg(data) else encode_png(arr)
        return out, f"{arr.shape[1]}x{arr.shape[0]}"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start : start + BATCH_ROWS].copy()
                if decoder == "real":
                    resized = [_real_resize(c) for c in chunk["content"]]
                    chunk["content"] = [r[0] for r in resized]
                    chunk["meta"] = [
                        {**(m or {}), "resized": f"1/{scale_div}", "dims": r[1]}
                        for m, r in zip(chunk["meta"], resized)
                    ]
                else:
                    chunk["content"] = [
                        None if c is None else bytes(c[::scale_div])
                        for c in chunk["content"]
                    ]
                    chunk["meta"] = [
                        {**(m or {}), "resized": f"1/{scale_div}"}
                        for m in chunk["meta"]
                    ]
                yield chunk

    return df.select(
        "media_id", "kind", "content", "mime", "meta"
    ).mapInPandas(op, RESIZE_SCHEMA)


def frame_sample(
    df: DataFrame,
    frame_bytes: int = 256,
    stride: int = 4,
    decoder: str = "fake",
) -> DataFrame:
    """Explode media into sampled frames: one output row per kept frame
    (media_id, frame_idx, frame) — the row-expanding mapInPandas shape
    (video → frames) where output rows ≫ input rows, so the op yields
    per-chunk to keep any single Arrow batch bounded.

    ``fake``: payload split into ``frame_bytes`` chunks, every ``stride``-th
    kept. ``real``: APNG (animated PNG) container decode via the bundled
    pure-Python codec — each kept frame is emitted as a standalone
    single-frame PNG; a plain PNG is a 1-frame video; non-PNG payloads
    raise. A deployment with pyav swaps the per-batch container call for
    real video formats, plumbing unchanged.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    def real_op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .png import decode_apng_frames

        for pdf in batches:
            for start in range(0, len(pdf), FRAME_BATCH_ROWS):
                chunk = pdf.iloc[start : start + FRAME_BATCH_ROWS]
                ids, idxs, frames = [], [], []
                for mid, c in zip(chunk["media_id"], chunk["content"]):
                    if c is None:
                        continue
                    fr = decode_apng_frames(bytes(c))
                    for fi in range(0, len(fr), stride):
                        ids.append(mid)
                        idxs.append(fi)
                        frames.append(fr[fi])
                yield pd.DataFrame(
                    {"media_id": ids, "frame_idx": idxs, "frame": frames}
                ).astype({"media_id": "int64", "frame_idx": "int64"})

    if decoder == "real":
        return df.select("media_id", "content").mapInPandas(real_op, FRAME_SCHEMA)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), FRAME_BATCH_ROWS):
                chunk = pdf.iloc[start : start + FRAME_BATCH_ROWS]
                ids, idxs, frames = [], [], []
                for mid, c in zip(chunk["media_id"], chunk["content"]):
                    if c is None:
                        continue
                    n_frames = len(c) // frame_bytes + 1
                    for fi in range(0, n_frames, stride):
                        ids.append(mid)
                        idxs.append(fi)
                        frames.append(
                            bytes(c[fi * frame_bytes : (fi + 1) * frame_bytes])
                        )
                yield pd.DataFrame(
                    {"media_id": ids, "frame_idx": idxs, "frame": frames}
                ).astype({"media_id": "int64", "frame_idx": "int64"})

    return df.select("media_id", "content").mapInPandas(op, FRAME_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
    ]
)


def synth_png_corpus(
    df: DataFrame, id_col: str = "doc_id", variants: int = 31, size: int = 16
) -> DataFrame:
    """Deterministic per-variant PNG payloads as MEDIA_SCHEMA rows: the
    testdata has no image table, so the image path is driven end-to-end by
    encoding a real PNG per row whose RGB pattern depends only on
    ``id % variants`` — rows sharing a variant are bitwise-identical
    images, which gives the dedup entries known duplicate structure."""
    from .png import encode_png

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, bytes] = {}
        for pdf in batches:
            ids = pdf["media_id"].to_numpy()
            payloads = []
            for i in ids:
                var = int(i) % variants
                png = cache.get(var)
                if png is None:
                    y, x, c = np.meshgrid(
                        np.arange(size), np.arange(size), np.arange(3),
                        indexing="ij",
                    )
                    # the y·x·(var+1) term makes the pattern spatially
                    # var-dependent: a pure +29·var offset is (near-)uniform
                    # brightness, which aHash is invariant to (variants 0
                    # and 9 collided: 29·9 ≡ 5 mod 256)
                    arr = (
                        (y * 7 + x * 13 + c * 5 + var * 29 + y * x * (var + 1))
                        % 256
                    ).astype(np.uint8)
                    png = encode_png(arr)
                    cache[var] = png
                payloads.append(png)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "image",
                    "content": payloads,
                    "mime": "image/png",
                    "meta": [{"variant": str(int(i) % variants)} for i in ids],
                }
            )

    return df.select(F.col(id_col).cast("long").alias("media_id")).mapInPandas(
        op, MEDIA_SCHEMA
    )


def synth_jpeg_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    variants: int = 31,
    size: int = 16,
    quality: int = 90,
) -> DataFrame:
    """JPEG twin of :func:`synth_png_corpus`: deterministic baseline-JPEG
    payloads whose pattern depends only on ``id % variants`` — rows
    sharing a variant are bitwise-identical JPEGs, and the 31 variant
    patterns land on 31 distinct aHashes even after lossy decode
    (verified), so the dedup entries keep a known duplicate structure."""
    from .jpeg import encode_jpeg

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, bytes] = {}
        for pdf in batches:
            ids = pdf["media_id"].to_numpy()
            payloads = []
            for i in ids:
                var = int(i) % variants
                jpg = cache.get(var)
                if jpg is None:
                    y, x, c = np.meshgrid(
                        np.arange(size), np.arange(size), np.arange(3),
                        indexing="ij",
                    )
                    arr = (
                        (y * 7 + x * 13 + c * 5 + var * 29 + y * x * (var + 1))
                        % 256
                    ).astype(np.uint8)
                    jpg = encode_jpeg(arr, quality=quality)
                    cache[var] = jpg
                payloads.append(jpg)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "image",
                    "content": payloads,
                    "mime": "image/jpeg",
                    "meta": [{"variant": str(int(i) % variants)} for i in ids],
                }
            )

    return df.select(F.col(id_col).cast("long").alias("media_id")).mapInPandas(
        op, MEDIA_SCHEMA
    )


def decode_image(payload: bytes) -> np.ndarray:
    """PNG or baseline-JPEG bytes → (H, W, C) uint8 via the bundled
    pure-Python codecs; anything else raises ``UnsupportedMedia``."""
    from .jpeg import decode_jpeg, is_jpeg
    from .png import decode_png

    data = bytes(payload)
    if is_jpeg(data):
        return decode_jpeg(data)
    return decode_png(data)


def ahash_bytes(payload: bytes) -> tuple[int, int, int]:
    """64-bit average-hash of a PNG or JPEG payload: decode, channel-mean
    grayscale, 8×8 nearest-neighbor downscale, mean threshold, row-major
    bit pack. Returns (ahash, width, height). Deterministic — every step
    is integer or exact small-int float arithmetic (JPEG decode included:
    fixed IDCT + rounding chain, same bytes → same pixels everywhere)."""
    arr = decode_image(bytes(payload))
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    cells = gray[ys][:, xs]
    bits = (cells > cells.mean()).astype(np.uint64).ravel()
    ah = int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))
    return ah - (1 << 64) if ah >= 1 << 63 else ah, w, h


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual fingerprints for image dedup: ``(media_id, ahash, width,
    height)`` via the real PNG codec. Identical images always collide;
    near-identical ones usually do (aHash is the cheap tier — swap the
    downscale/transform for pHash/dHash, same operator shape).

    Scale: embarrassingly parallel mapInPandas (no shuffle); the follow-up
    dedup is a groupBy on the 8-byte hash — the same one-shuffle shape as
    exact text dedup, never pairwise."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start : start + BATCH_ROWS]
                hs, ws, hh = [], [], []
                for c in chunk["content"]:
                    if c is None:
                        hs.append(None); ws.append(None); hh.append(None)
                    else:
                        a, w, h = ahash_bytes(c)
                        hs.append(a); ws.append(w); hh.append(h)
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].to_numpy(),
                        "ahash": pd.array(hs, dtype="Int64"),
                        "width": pd.array(ws, dtype="Int64"),
                        "height": pd.array(hh, dtype="Int64"),
                    }
                )

    return df.select("media_id", "content").mapInPandas(op, AHASH_SCHEMA)


def synth_apng_corpus(
    df: DataFrame, id_col: str = "doc_id", max_frames: int = 7, size: int = 16
) -> DataFrame:
    """Deterministic per-row APNG payloads (media rows): ``1 + id %
    max_frames`` full-canvas frames whose pixels derive from (id, frame) —
    drives the video path end to end with a real container, the way
    :func:`synth_png_corpus` drives the image path."""
    from .png import encode_apng

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        y, x, c = np.meshgrid(
            np.arange(size), np.arange(size), np.arange(3), indexing="ij"
        )
        base = y * 7 + x * 13 + c * 5
        cache: dict[int, bytes] = {}
        for pdf in batches:
            ids = pdf["media_id"].to_numpy()
            payloads = []
            for i in ids:
                nf = 1 + int(i) % max_frames
                apng = cache.get(nf)
                if apng is None:
                    frames = [
                        ((base + fi * 31) % 256).astype(np.uint8)
                        for fi in range(nf)
                    ]
                    apng = encode_apng(frames)
                    cache[nf] = apng
                payloads.append(apng)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "video",
                    "content": payloads,
                    "mime": "image/apng",
                    "meta": [
                        {"n_frames": str(1 + int(i) % max_frames)} for i in ids
                    ],
                }
            )

    return df.select(F.col(id_col).cast("long").alias("media_id")).mapInPandas(
        op, MEDIA_SCHEMA
    )
