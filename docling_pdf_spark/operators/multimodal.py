"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (driver mandate).

The decode/resize/frame-sample kernels need codec libraries that are
NOT in this container, so the codec step is a deterministic stand-in
(decode_image, sample_video_frames) — but everything Spark-side is real
and tested: the asset schema, the Arrow-batched UDF signature and batch
shape, the deterministic byte-level feature extractor (a 16-bin byte
histogram — genuinely computable on opaque bytes), and the
partitioning of assets by size class.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_ASSET_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), True),  # image|audio|video
        T.StructField("data", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_hist", T.ArrayType(T.DoubleType()), True),  # 16 bins
        # integer bin counts alongside the probabilities: the oracle
        # reconstruction round(p·n) is only exact for n < 1e6 bytes
        # (p carries 6 digits), so exact checks use the counts and stay
        # size-independent (r3 ADVICE)
        T.StructField("byte_hist_counts", T.ArrayType(T.LongType()), True),
        T.StructField("byte_entropy", T.DoubleType(), True),
    ]
)

HIST_BINS = 16


def decode_image(data: bytes) -> "np.ndarray":
    """Pixel decode STAND-IN (a real decode needs an image codec —
    PIL/libjpeg — not installed in this container): bytes are tiled
    into a fixed 32×32 grayscale array — not real pixels, but a stable,
    shape-correct stand-in that drives the full downstream plumbing
    (resize, feature UDFs)."""
    arr = np.frombuffer(data or b"\x00", dtype=np.uint8)
    return np.resize(arr, (32, 32))


def resize_image(img: "np.ndarray", out_h: int, out_w: int) -> "np.ndarray":
    """Nearest-neighbour resize via index striding — pure numpy (no
    codec needed; works on real pixels and on the deterministic fake)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[np.ix_(ys, xs)]


def sample_video_frames(data: bytes, every_ms: int = 1000) -> list[bytes]:
    """Frame sampling STAND-IN (a real sampler needs ffmpeg/pyav): the
    byte stream is treated as 1 KiB-per-100ms fake 'frames'; every_ms
    selects every k-th chunk — deterministic, and exercises the
    one-row-in/many-frames-out UDF shape."""
    chunk, ms_per_chunk = 1024, 100
    step = max(1, every_ms // ms_per_chunk)
    chunks = [data[i : i + chunk] for i in range(0, len(data or b""), chunk)]
    return chunks[::step]


def _feature_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction over opaque bytes: vectorized
    numpy histogram + entropy per asset. This is the shape a real
    decode kernel plugs into (swap the histogram for decode_image +
    model features)."""
    for b in batches:
        out = []
        for ref, kind, data in zip(b["media_ref"], b["media_kind"], b["data"]):
            if data is None:
                out.append((ref, kind, 0, [0.0] * HIST_BINS, [0] * HIST_BINS, 0.0))
                continue
            arr = np.frombuffer(data, dtype=np.uint8)
            counts = np.bincount(arr >> 4, minlength=HIST_BINS)
            hist = counts.astype(np.float64)
            total = float(hist.sum()) or 1.0
            p = hist / total
            nz = p[p > 0]
            entropy = float(-(nz * np.log2(nz)).sum())
            out.append((ref, kind, int(arr.size), [round(x, 6) for x in p.tolist()],
                        [int(c) for c in counts.tolist()], round(entropy, 6)))
        yield pd.DataFrame(
            out,
            columns=["media_ref", "media_kind", "n_bytes", "byte_hist",
                     "byte_hist_counts", "byte_entropy"],
        )


def media_features(assets: DataFrame) -> DataFrame:
    """assets (MEDIA_ASSET_SCHEMA) → per-asset byte features.

    Skew note: media payloads are far fatter than text rows — the same
    salted-repartition treatment as the extraction pipeline applies;
    here we repartition by a uniform hash of media_ref before the UDF."""
    n = assets.sparkSession.sparkContext.defaultParallelism * 2
    balanced = assets.repartition(n, F.xxhash64("media_ref"))
    return balanced.select("media_ref", "media_kind", "data").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA
    )


THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("thumb_h", T.IntegerType(), False),
        T.StructField("thumb_w", T.IntegerType(), False),
        T.StructField("pixels", T.ArrayType(T.IntegerType()), True),  # row-major
    ]
)


def image_thumbnails(assets: DataFrame, out_h: int = 8, out_w: int = 8) -> DataFrame:
    """decode → resize → flat pixel array, Arrow-batched. The decode is
    the deterministic stand-in (real codecs absent here); the Spark
    plumbing — batch iteration, schema, output shape — is exactly what
    a real decoder plugs into."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for ref, data in zip(b["media_ref"], b["data"]):
                img = decode_image(bytes(data or b""))
                thumb = resize_image(img, out_h, out_w)
                out.append((ref, out_h, out_w, [int(x) for x in thumb.ravel()]))
            yield pd.DataFrame(out, columns=["media_ref", "thumb_h", "thumb_w", "pixels"])

    imgs = assets.where(F.col("media_kind") == "image")
    return imgs.select("media_ref", "data").mapInPandas(kernel, schema=THUMBNAIL_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.LongType(), False),
    ]
)


def video_frame_index(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """One row in → many frames out (the frame-sampling UDF shape):
    each sampled frame becomes a row with its byte size. The sampler is
    the deterministic stand-in (real codecs absent here)."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for ref, data in zip(b["media_ref"], b["data"]):
                frames = sample_video_frames(bytes(data or b""), every_ms)
                out.extend((ref, i, len(f)) for i, f in enumerate(frames))
            yield pd.DataFrame(out, columns=["media_ref", "frame_idx", "frame_bytes"])

    vids = assets.where(F.col("media_kind") == "video")
    return vids.select("media_ref", "data").mapInPandas(kernel, schema=FRAME_SCHEMA)
