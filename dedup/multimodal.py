"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via mapInPandas in Arrow batches.

Decode is REAL for PNG images, PCM WAV audio, AND uncompressed-BI_RGB AVI
video (dedup.mediacodec — pure zlib/struct/numpy, no PIL/ffmpeg needed),
including a numpy nearest-neighbor ``resize_media`` and per-frame video
sampling (``frame_sample``). ``fake=True`` (default for opaque test
payloads) derives deterministic pseudo-features from the raw bytes instead.
Codec-bound containers (mp4/h264) raise an explicit ValueError at decode —
the boundary is a config error, not a silent fallback or a stub.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedup.exact import prune_singleton_blocks

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), False),  # opaque encoded bytes
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def synth_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL encodings: seeded 64×48 grayscale
    PNGs, seeded 16-bit PCM WAVs, seeded 4-frame 16×12 BI_RGB AVIs for
    video. Planted exact dups: every 8th row (i % 8 == 0, i > 0) carries
    the payload of row i-1 — the predecessor is never itself remapped
    (i-1 % 8 == 7), so each pair (i-1, i) is a real duplicate pair and
    nothing else collides."""
    from dedup.mediacodec import avi_encode, png_encode, wav_encode

    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        # the duplicate must copy its source's KIND too, or the payload
        # would be re-encoded differently; i-1's kind is ["video","image",
        # "audio"][i%3] when i%8==0 — recompute from src
        src = i - 1 if (i % 8 == 0 and i > 0) else i
        kind = ["image", "audio", "video"][src % 3]
        rng = np.random.default_rng(seed + src)
        if kind == "image":
            img = rng.integers(0, 256, size=(48, 64), dtype=np.uint8)
            payload = png_encode(img)
        elif kind == "audio":
            pcm = rng.integers(-(2**15), 2**15, size=800 + (src % 5) * 160).astype(
                np.int16
            )
            payload = wav_encode(pcm, rate=8000)
        else:
            frames = rng.integers(
                0, 256, size=(4 + src % 3, 12, 16, 3), dtype=np.uint8
            )
            payload = avi_encode(frames, fps=10)
        rows.append(
            (
                i,
                kind,
                payload,
                {"image": 64, "video": 16}.get(kind),
                {"image": 48, "video": 12}.get(kind),
                1000 * (src % 7 + 1) if kind != "image" else None,
                {"image": "image/png", "audio": "audio/wav", "video": "video/avi"}[kind],
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def decode_media(media: DataFrame, dim: int = 16, fake: bool = True) -> DataFrame:
    """media → per-item features via mapInPandas (Arrow batch iterator).

    fake=True: deterministic pseudo-embedding = normalized byte histogram
    projected to ``dim`` buckets + md5 content hash (for opaque payloads).
    fake=False: REAL decode — PNG → pixel-intensity histogram, WAV →
    sample-amplitude histogram, AVI video → pixel-intensity histogram over
    every decoded frame (dedup.mediacodec, pure Python/numpy). A video
    payload that is not an uncompressed-BI_RGB AVI raises ValueError
    (codec-bound containers need upstream transcoding — an explicit
    boundary, never a silent fallback). Content hash is over the RAW bytes
    in both modes, so exact-dup detection is decode-independent.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from dedup.mediacodec import avi_decode, png_decode, wav_decode

        def byte_feature(raw: bytes) -> np.ndarray:
            b = np.frombuffer(raw, dtype=np.uint8)
            return np.bincount(b % dim, minlength=dim).astype(np.float32)

        def px_hist(px: np.ndarray) -> np.ndarray:
            return np.bincount(
                px // max(256 // dim, 1), minlength=dim
            )[:dim].astype(np.float32)

        for pdf in batches:
            feats, hashes, sizes = [], [], []
            for raw, kind in zip(pdf["data"], pdf["kind"]):
                raw = bytes(raw)
                if fake:
                    hist = byte_feature(raw)
                elif kind == "image":
                    hist = px_hist(png_decode(raw).ravel())
                elif kind == "audio":
                    samples, _rate = wav_decode(raw)
                    # amplitude histogram over dim buckets of |sample|
                    mag = np.abs(samples.astype(np.int32))
                    hist = np.bincount(
                        np.minimum(mag // max(2**15 // dim, 1), dim - 1),
                        minlength=dim,
                    ).astype(np.float32)
                elif kind == "video":
                    frames, _uspf = avi_decode(raw)
                    hist = px_hist(frames.ravel())
                else:
                    hist = byte_feature(raw)
                norm = float(np.linalg.norm(hist)) or 1.0
                feats.append(hist / norm)
                hashes.append(hashlib.md5(raw).hexdigest())
                sizes.append(len(raw))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "content_hash": hashes,
                    "feature": feats,
                }
            )

    return media.mapInPandas(decode_batches, schema=FEATURES_SCHEMA)


def media_exact_dups(features: DataFrame) -> DataFrame:
    """Exact-duplicate media via content hash — the text tiers' de-skewed
    multi-member filter (groupBy-count + semi-join, no window) keyed on
    ``content_hash``."""
    return prune_singleton_blocks(features, key="content_hash").select(
        "media_id", "kind", "content_hash"
    )


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Decode → nearest-neighbor resample → re-encode for image rows, in
    the same mapInPandas shape as decode_media; non-image rows pass through
    untouched. Pure numpy index math (dedup.mediacodec.resize_nearest) —
    deterministic, no image library."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedup.mediacodec import png_decode, png_encode, resize_nearest

        for pdf in batches:
            data, ws, hs = [], [], []
            for raw, kind in zip(pdf["data"], pdf["kind"]):
                if kind == "image":
                    img = resize_nearest(png_decode(bytes(raw)), width, height)
                    data.append(png_encode(img))
                    ws.append(width)
                    hs.append(height)
                else:
                    data.append(bytes(raw))
                    ws.append(None)
                    hs.append(None)
            out = pdf.copy()
            out["data"] = data
            out["width"] = pd.array(ws, dtype="Int32")
            out["height"] = pd.array(hs, dtype="Int32")
            yield out

    return media.mapInPandas(resize_batches, schema=media.schema)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("t_ms", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),  # PNG-encoded frame
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
)


def frame_sample(media: DataFrame, every_ms: int) -> DataFrame:
    """Sample video frames every ``every_ms`` milliseconds — REAL decode for
    uncompressed-BI_RGB AVI payloads (dedup.mediacodec.avi_decode), each
    sampled frame re-encoded as PNG (the image tier's native format, so
    sampled frames flow straight into decode_media/resize_media).

    Non-video rows are ignored; a video payload in a codec-bound container
    raises ValueError from avi_decode (explicit boundary, see module
    docstring). One output row per sampled frame: a mapInPandas batch
    iterator, same Arrow shape as the other media operators.
    """

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedup.mediacodec import avi_decode, png_encode

        for pdf in batches:
            ids, idxs, ts, data, ws, hs = [], [], [], [], [], []
            for media_id, raw, kind in zip(pdf["media_id"], pdf["data"], pdf["kind"]):
                if kind != "video":
                    continue
                frames, us_per_frame = avi_decode(bytes(raw))
                ms_per_frame = max(us_per_frame // 1000, 1)
                step = max(every_ms // ms_per_frame, 1)
                for fi in range(0, len(frames), step):
                    ids.append(media_id)
                    idxs.append(fi)
                    ts.append(fi * ms_per_frame)
                    data.append(png_encode(frames[fi]))
                    ws.append(frames.shape[2])
                    hs.append(frames.shape[1])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "t_ms": pd.Series(ts, dtype="int32"),
                    "data": data,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                }
            )

    return media.mapInPandas(sample_batches, schema=FRAMES_SCHEMA)
