"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video next to text.
The Spark-side contract here is real and tested — schema, partitioning,
Arrow batch shape, mapInPandas signatures. Every image decode is
``kernels/image_codec.decode_image`` folded to gray: it sniffs the magic
and decodes the FAKE container below and PNM/BMP/PNG/JPEG/TIFF/WebP from
scratch. The synthesized table uses deterministic FAKE containers
(magic-tagged headers over numpy-decodable raw bytes).

Fake container formats (all big-endian u16 fields):
- image: b'FIMG' | width u16 | height u16 | width*height grayscale bytes
- audio: b'FAUD' | sample_rate u16 | n_samples u32 | n_samples int8 PCM
- video: b'FVID' | n_frames u16 | n_frames x (image container)

Design notes (scale):
- payloads stay opaque bytes end-to-end; only mapInPandas kernels touch
  them, batch-wise over Arrow, so JVM memory never holds decoded frames.
- decode emits fixed-schema feature rows — downstream joins/aggs are
  plain columnar work.
- frame sampling EXPLODES rows (one per sampled frame): emitted from the
  same iterator pass, so peak memory is one Arrow batch of frames.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.image_codec import decode_image
from ..kernels.image_prep import to_gray

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image|audio|video
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), False),
])


# ---------------------------------------------------------------------------
# FAKE image container writer (decoding is image_codec.decode_image's)
# ---------------------------------------------------------------------------

def _encode_fake_image(arr: np.ndarray) -> bytes:
    h, w = arr.shape
    return b"FIMG" + struct.pack(">HH", w, h) + arr.astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# synth: deterministic fake media table (no external data)
# ---------------------------------------------------------------------------

def synth_media(spark: SparkSession, n: int = 256,
                partitions: int | None = None) -> DataFrame:
    """Deterministic media table: media_id i gets kind i%3; pixel/sample
    bytes derive from (i, position) arithmetic — reproducible anywhere."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = ("image", "audio", "video")[i % 3]
                if kind == "image":
                    w, h = 16 + (i % 8) * 4, 12 + (i % 5) * 4
                    px = ((np.arange(w * h) * (i + 7)) % 251).astype(np.uint8)
                    payload = _encode_fake_image(px.reshape(h, w))
                    meta = {"width": str(w), "height": str(h)}
                elif kind == "audio":
                    sr, ns = 8000, 400 + (i % 11) * 40
                    pcm = (((np.arange(ns) * (i + 3)) % 255) - 127).astype(np.int8)
                    payload = (b"FAUD" + struct.pack(">HI", sr, ns)
                               + pcm.tobytes())
                    meta = {"sample_rate": str(sr), "n_samples": str(ns)}
                else:
                    nf, w, h = 4 + i % 5, 16, 12
                    frames = []
                    for fidx in range(nf):
                        px = ((np.arange(w * h) * (i + fidx + 1)) % 249
                              ).astype(np.uint8)
                        frames.append(_encode_fake_image(px.reshape(h, w)))
                    payload = b"FVID" + struct.pack(">H", nf) + b"".join(frames)
                    meta = {"n_frames": str(nf), "width": str(w),
                            "height": str(h)}
                rows.append((i, kind, payload, meta))
            yield pd.DataFrame(rows,
                               columns=["media_id", "kind", "payload", "meta"])

    base = spark.range(n)
    if partitions:
        base = base.repartition(partitions)
    return base.mapInPandas(gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

IMAGE_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("mean_intensity", T.DoubleType(), False),
    T.StructField("std_intensity", T.DoubleType(), False),
    T.StructField("status", T.StringType(), False),
])


def image_stats(df: DataFrame) -> DataFrame:
    """Decode + feature-extract images (width/height/intensity moments).
    Failure-as-data: undecodable payloads become status='error' rows."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    arr = to_gray(decode_image(bytes(payload)))
                    # moments via E[x²]−E[x]² (integer sums are exact in
                    # float64, so this is bit-reproducible across engines)
                    m1 = float(arr.mean())
                    m2 = float((arr.astype(np.float64) ** 2).mean())
                    rows.append((int(mid), arr.shape[1], arr.shape[0],
                                 m1, float(np.sqrt(max(m2 - m1 * m1, 0.0))),
                                 "ok"))
                except Exception:
                    rows.append((int(mid), 0, 0, 0.0, 0.0, "error"))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGE_STATS_SCHEMA.fields])

    return df.filter(F.col("kind") == "image").select("media_id", "payload") \
        .mapInPandas(kernel, schema=IMAGE_STATS_SCHEMA)


def resize_images(df: DataFrame, scale: int = 2) -> DataFrame:
    """Downsample by integer stride (numpy slicing — the stand-in for a
    real resampler); re-encoded as the FAKE gray container so the
    output is again an opaque media table. Failure-as-data like
    image_stats: an undecodable payload passes through unchanged with
    meta.status='error' instead of failing the task 4× and killing the
    whole job."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    arr = to_gray(decode_image(bytes(payload)))
                    arr = arr[::scale, ::scale]
                    out.append((int(mid), "image", _encode_fake_image(arr),
                                {"width": str(arr.shape[1]),
                                 "height": str(arr.shape[0]),
                                 "resized_from": str(scale),
                                 "status": "ok"}))
                except Exception as exc:
                    out.append((int(mid), "image", bytes(payload),
                                {"status": "error",
                                 "error": type(exc).__name__}))
            yield pd.DataFrame(out, columns=["media_id", "kind", "payload",
                                             "meta"])

    return df.filter(F.col("kind") == "image") \
        .mapInPandas(kernel, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame", T.BinaryType(), False),
])


def sample_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling: one output row per kept frame (row-exploding
    mapInPandas — the UDTF shape). Malformed payloads (non-FVID, or a
    header claiming more frames than the buffer holds) contribute only
    their parseable prefix of frames and NEVER fail the task — an
    exploding schema has no room for error rows, so callers needing
    error surfacing run image_stats-style operators first."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                if len(buf) < 6 or buf[:4] != b"FVID":
                    continue
                (nf,) = struct.unpack(">H", buf[4:6])
                off = 6
                for fidx in range(nf):
                    if off + 8 > len(buf):
                        break  # truncated header: keep parsed prefix
                    w, h = struct.unpack(">HH", buf[off + 4:off + 8])
                    end = off + 8 + w * h
                    if end > len(buf):
                        break  # truncated frame body
                    if fidx % every == 0:
                        rows.append((int(mid), fidx, buf[off:end]))
                    off = end
            yield pd.DataFrame(rows,
                               columns=[f.name for f in FRAME_SCHEMA.fields])

    return df.filter(F.col("kind") == "video") \
        .select("media_id", "payload") \
        .mapInPandas(kernel, schema=FRAME_SCHEMA)


FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("mean_intensity", T.DoubleType(), False),
])


def frame_stats(df: DataFrame, every: int = 2) -> DataFrame:
    """Sampled-frame feature extraction: decode each kept frame, emit its
    mean intensity (the numeric surface the oracle gate can check)."""
    frames = sample_frames(df, every)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, fidx, frame in zip(pdf["media_id"], pdf["frame_idx"],
                                        pdf["frame"]):
                arr = to_gray(decode_image(bytes(frame)))
                rows.append((int(mid), int(fidx), float(arr.mean())))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              FRAME_STATS_SCHEMA.fields])

    return frames.mapInPandas(kernel, schema=FRAME_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), False),
    T.StructField("n_samples", T.IntegerType(), False),
    T.StructField("duration_sec", T.DoubleType(), False),
    T.StructField("rms", T.DoubleType(), False),
])


def audio_stats(df: DataFrame) -> DataFrame:
    """Decode fake-PCM audio → duration + RMS energy. Stats are computed
    over the samples ACTUALLY present: a truncated payload reports its
    real sample count, never the header's claim over missing bytes (the
    silent-wrong-data trap), and degenerate headers (sr=0, no samples)
    are skipped rather than dividing by zero and failing the task."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                if len(buf) < 10 or buf[:4] != b"FAUD":
                    continue
                sr, ns = struct.unpack(">HI", buf[4:10])
                pcm = np.frombuffer(buf[10:10 + ns], dtype=np.int8
                                    ).astype(np.float64)
                if sr <= 0 or len(pcm) == 0:
                    continue
                ns = len(pcm)  # truth over header claim on truncation
                rows.append((int(mid), sr, ns, ns / sr,
                             float(np.sqrt((pcm ** 2).mean()))))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in
                                        AUDIO_STATS_SCHEMA.fields])

    return df.filter(F.col("kind") == "audio") \
        .select("media_id", "payload") \
        .mapInPandas(kernel, schema=AUDIO_STATS_SCHEMA)
