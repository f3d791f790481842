"""OCR tier tests: codecs, preprocessing, engine, Spark operators,
scanned-PDF fallback (SURVEY §2.10 — implemented in r2 via the
from-scratch numpy engine; reference text_extractor.py:152-488)."""

import base64
import random

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from advanced_text_extraction_spark.kernels import image_prep as prep
from advanced_text_extraction_spark.kernels.image_codec import (
    decode_bmp, decode_image, decode_pnm, ImageError)
from fixtures.image_codec import encode_bmp_gray, encode_pgm
from advanced_text_extraction_spark.kernels.ocr import (
    FONT, normalize_to_charset, ocr_image, recognize, render_page,
    select_engine)
from advanced_text_extraction_spark.kernels.pdf_extract import (
    extract_page_images, extract_pdf)
from advanced_text_extraction_spark.operators import extract as extract_mod
from advanced_text_extraction_spark.operators.ocr import (
    ocr_images, ocr_pdf_bytes, ocr_roundtrip, pdf_ocr_fallback,
    pdf_ocr_pages, page_confidence_stats, token_confidence_stats)
from advanced_text_extraction_spark.sources.config import ExtractOptions
from fixtures.gen import build_scanned_pdf, gen_scanned_pdf_payload

TXT = "THE QUICK BROWN FOX 123\nJUMPS OVER THE LAZY DOG"


# ---------------------------------------------------------------------------
# codecs
# ---------------------------------------------------------------------------

def test_pgm_bmp_roundtrip():
    arr = ((np.arange(23 * 17) * 7) % 251).astype(np.uint8).reshape(17, 23)
    assert (decode_pnm(encode_pgm(arr)) == arr).all()
    assert (decode_bmp(encode_bmp_gray(arr)) == arr).all()
    assert (decode_image(encode_pgm(arr)) == arr).all()
    assert (decode_image(encode_bmp_gray(arr)) == arr).all()


def test_ascii_pgm_and_comments():
    buf = b"P2 # a comment\n3 2 255\n0 128 255 10 20 30"
    arr = decode_pnm(buf)
    assert arr.shape == (2, 3) and arr[0, 2] == 255 and arr[1, 0] == 10


def test_bad_magic_raises():
    with pytest.raises(ImageError):
        decode_image(b"GIF89a....")


def test_png_roundtrip_all_encoder_filters():
    from advanced_text_extraction_spark.kernels.image_codec import decode_png
    from fixtures.image_codec import encode_png_gray
    arr = ((np.arange(31 * 17) * 13) % 251).astype(np.uint8).reshape(17, 31)
    for ft in (0, 1, 2):
        assert (decode_png(encode_png_gray(arr, ft)) == arr).all()
    assert (decode_image(encode_png_gray(arr)) == arr).all()


def test_png_average_paeth_rgb_palette():
    import struct
    import zlib as _zlib
    from advanced_text_extraction_spark.kernels.image_codec import (
        _paeth, _PNG_SIG, decode_png)
    from fixtures.image_codec import _png_chunk
    arr = ((np.arange(31 * 17) * 13) % 251).astype(np.uint8).reshape(17, 31)
    h, w = arr.shape
    # forward-filter with average (3) / paeth (4) and decode back
    rows = []
    for y in range(h):
        f = 3 if y % 2 == 0 else 4
        prev = arr[y - 1].astype(int) if y else np.zeros(w, int)
        out = bytearray([f])
        for x in range(w):
            a = int(arr[y, x - 1]) if x else 0
            b = int(prev[x])
            c = int(arr[y - 1, x - 1]) if (y and x) else 0
            pred = (a + b) // 2 if f == 3 else _paeth(a, b, c)
            out.append((int(arr[y, x]) - pred) & 0xFF)
        rows.append(bytes(out))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", _zlib.compress(b"".join(rows)))
           + _png_chunk(b"IEND", b""))
    assert (decode_png(png) == arr).all()
    # RGB (color type 2) and palette (color type 3)
    rgb = np.dstack([arr, arr // 2, arr // 3])
    raw = b"".join(bytes([0]) + rgb[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", _zlib.compress(raw))
           + _png_chunk(b"IEND", b""))
    assert (decode_png(png) == rgb).all()
    pal = np.array([[i, 255 - i, i // 2] for i in range(256)], dtype=np.uint8)
    raw = b"".join(bytes([0]) + arr[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"PLTE", pal.tobytes())
           + _png_chunk(b"IDAT", _zlib.compress(raw))
           + _png_chunk(b"IEND", b""))
    assert (decode_png(png) == pal[arr]).all()


def test_ocr_through_png():
    from fixtures.image_codec import encode_png_gray
    img = render_page("PNG PATH 99", scale=3)
    assert recognize(decode_image(encode_png_gray(img)))["text"] \
        == "PNG PATH 99"


# ---------------------------------------------------------------------------
# engine: exact roundtrip on clean renders (the oracle-parity property)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("scale", [2, 3, 4])
def test_render_recognize_exact(scale):
    img = render_page(TXT, scale=scale)
    res = recognize(img)
    assert res["text"] == TXT
    assert res["n_lines"] == 2
    assert all(c == 100.0 for c in res["token_confs"])


def test_every_glyph_roundtrips():
    line = " ".join(sorted(FONT))
    assert recognize(render_page(line, scale=3))["text"] == line


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=sorted(set("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
                                   ".,:;!?()-+=/%#&*<>@$[]_'\" ")),
               min_size=1, max_size=40))
def test_random_charset_roundtrip(s):
    # the "A" anchor pins the line's glyph frame: a line of ONLY short
    # punctuation is scale-ambiguous (a lone ' is pixel-identical to a
    # smaller !), which no recognizer can resolve
    norm = normalize_to_charset("A " + s)
    res = recognize(render_page(norm, scale=3))
    assert res["text"] == norm


def test_normalize_to_charset():
    assert normalize_to_charset("Héllo,  world! 42") == "H LLO, WORLD! 42"
    assert normalize_to_charset("\t\n  ") == ""


# ---------------------------------------------------------------------------
# preprocessing chain (reference ImagePreprocessor parity)
# ---------------------------------------------------------------------------

def test_chain_recovers_noise():
    img = render_page(TXT, scale=4)
    rng = np.random.RandomState(7)
    noisy = img.copy()
    m = rng.rand(*img.shape) < 0.02
    noisy[m] = rng.choice([0, 255], m.sum())
    res = ocr_image(noisy, engine="template")
    assert res["text"] == TXT
    assert res["confidence"] > 0.9


@pytest.mark.parametrize("angle", [1.0, 2.5, -3.0, 4.0])
def test_deskew_recovers_rotation(angle):
    img = render_page(TXT, scale=4, margin=10)
    rot = prep.rotate(img, angle)
    est = prep.estimate_skew(rot)
    assert abs(est + angle) < 0.5  # corrective angle ≈ -applied
    res = ocr_image(rot, engine="template")
    assert res["text"] == TXT


def test_chain_recovers_shadow_gradient():
    img = render_page(TXT, scale=4)
    shade = np.linspace(0.45, 1.0, img.shape[1])[None, :]
    shadow = (img.astype(np.float64) * shade).astype(np.uint8)
    res = ocr_image(shadow, engine="template",
                    techniques=("remove_shadows", "denoise", "deskew",
                                "enhance_contrast", "binarize"))
    assert res["text"] == TXT


def test_chain_recovers_low_contrast():
    img = render_page(TXT, scale=4)
    low = (img.astype(np.float64) * 0.2 + 150).astype(np.uint8)
    res = ocr_image(low, engine="template")
    assert res["text"] == TXT


def test_clahe_equalizes_gradient_but_respects_clip():
    # a smooth ramp spreads toward the full range...
    ramp = np.tile(np.linspace(100, 160, 200).astype(np.uint8), (80, 1))
    out = prep.enhance_contrast(ramp)
    assert (int(out.max()) - int(out.min())) > \
        (int(ramp.max()) - int(ramp.min()))
    # ...but a two-value histogram is protected by the clip limit
    # (near-identity mapping — no noise over-amplification)
    img = render_page("AB", scale=3)
    low = (img.astype(np.float64) * 0.2 + 150).astype(np.uint8)
    out2 = prep.enhance_contrast(low)
    assert abs(int(out2.min()) - 150) < 30 and abs(int(out2.max()) - 201) < 30


def test_binarize_is_binary_and_preserves_glyphs():
    img = render_page("O O", scale=4)
    b = prep.binarize(img)
    assert set(np.unique(b)) <= {0, 255}
    assert recognize(b)["text"] == "O O"


def test_resize_band():
    small = render_page("HI", scale=2)
    assert prep.resize_for_ocr(small).shape[0] == 800
    tall = np.zeros((2400, 100), dtype=np.uint8)
    assert prep.resize_for_ocr(tall).shape[0] == 2000
    mid = np.zeros((1000, 100), dtype=np.uint8)
    assert prep.resize_for_ocr(mid).shape[0] == 1000


def test_failing_technique_is_skipped():
    # color input through the full chain must not raise even if a step
    # fails (reference warning-not-error semantics)
    rgb = np.dstack([render_page("OK", scale=3)] * 3)
    out = prep.preprocess(rgb, techniques=("nonexistent", "binarize"))
    assert out.ndim == 2


def test_select_engine_heuristics():
    # without external engines installed everything routes to 'template'
    assert select_engine(np.zeros((50, 50), dtype=np.uint8)) == "template"
    assert select_engine(np.zeros((1200, 1200), dtype=np.uint8)) == "template"
    with pytest.raises(ValueError):
        ocr_image(np.zeros((20, 20), dtype=np.uint8), engine="paddleocr")


# ---------------------------------------------------------------------------
# scanned-PDF fallback (S5 / P3)
# ---------------------------------------------------------------------------

def test_scanned_pdf_page_images_and_ocr():
    pdf = build_scanned_pdf(["HELLO SCANNED WORLD 42", "SECOND PAGE HERE"])
    pages = extract_page_images(pdf)
    assert len(pages) == 2 and all(len(p) == 1 for p in pages)
    text, conf, page_confs = ocr_pdf_bytes(pdf, preprocess=False)
    assert text == "HELLO SCANNED WORLD 42\n\nSECOND PAGE HERE"
    assert conf == 1.0 and page_confs == [1.0, 1.0]
    # text layer is empty -> gate 'short'
    joined, _spans, gate, n_pages = extract_pdf(pdf)
    assert gate == "short" and n_pages == 2


def test_extract_one_ocr_fallback():
    rng = random.Random(11)
    payload, expected = gen_scanned_pdf_payload(rng)
    # without the hook: short text layer, empty text
    rec = extract_mod.extract_one(payload)
    assert rec["metadata"]["text_layer"] == "short"
    assert rec["extracted_text"].strip() == ""  # '\n\n' page joins only
    # with the hook: OCR text replaces it, engine confidence replaces 0.95
    rec = extract_mod.extract_one(payload, ocr_fallback=pdf_ocr_fallback())
    assert rec["metadata"]["text_layer"] == "ocr"
    assert rec["extracted_text"] == expected
    assert 0.5 < rec["confidence"] <= 1.0


def test_ocr_fallback_draws_on_the_text_layers_inflate_budget():
    """P3 reads the page images from the parse that read the text layer,
    out of the inflate budget its content streams left. Content that
    inflates nearly all of it leaves too little for the page image: the
    row keeps its short text layer and names the budget in
    metadata['ocr_error'] (a second parse would start a fresh budget)."""
    import zlib
    from advanced_text_extraction_spark.kernels.sniff import (
        MAX_INFLATE_BYTES)
    w = h = 400
    content = (b"%" + b"x" * (MAX_INFLATE_BYTES - w * h // 2)
               + b"\nBT /F1 12 Tf 72 720 Td (tiny) Tj ET")
    streams = {4: (f"/Subtype /Image /Width {w} /Height {h} /ColorSpace "
                   "/DeviceGray /BitsPerComponent 8 ",
                   zlib.compress(b"\xff" * (w * h))),
               5: ("", zlib.compress(content))}
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R "
               b"/Resources << /XObject << /Im0 4 0 R >> >> >>"}
    for num, (head, data) in streams.items():
        objs[num] = (f"<< {head}/Filter /FlateDecode /Length {len(data)} "
                     ">>\nstream\n").encode() + data + b"\nendstream"
    pdf = b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n" % n + body + b"\nendobj\n"
        for n, body in sorted(objs.items())) + b"%%EOF\n"
    del content
    rec = extract_mod.extract_one(base64.b64encode(pdf).decode(),
                                  ocr_fallback=pdf_ocr_fallback())
    assert rec["status"] == "ok"
    assert rec["extracted_text"] == "tiny"
    assert rec["metadata"]["text_layer"] == "short"
    assert "inflate budget" in rec["metadata"]["ocr_error"]
    # on its own the page image fits the budget
    assert len(extract_page_images(pdf)[0][0][2]) == w * h


def test_text_layer_pdf_unaffected_by_fallback():
    rng = random.Random(5)
    from fixtures.gen import gen_pdf_payload
    payload = gen_pdf_payload(rng)
    rec = extract_mod.extract_one(payload, ocr_fallback=pdf_ocr_fallback())
    assert rec["metadata"]["text_layer"] == "ok"
    assert rec["confidence"] == 0.95


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def test_ocr_images_operator(spark):
    texts = ["HELLO WORLD", "SPARK 42", "OCR TIER"]
    rows = []
    for i, t in enumerate(texts):
        buf = encode_pgm(render_page(t, scale=3)) if i % 2 == 0 \
            else encode_bmp_gray(render_page(t, scale=3))
        rows.append((i, bytearray(buf)))
    rows.append((99, bytearray(b"not an image")))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = ocr_images(df, engine="template", preprocess=False) \
        .orderBy("media_id").collect()
    assert [r.text for r in out[:3]] == texts
    assert all(r.status == "ok" and r.confidence == 1.0 for r in out[:3])
    assert out[3].status == "error" and out[3].n_tokens == 0

    # A6 aggregation
    stats = token_confidence_stats(
        ocr_images(df, engine="template", preprocess=False)) \
        .orderBy("media_id").collect()
    assert [r.n_tokens for r in stats] == [2, 2, 2]
    assert all(r.token_conf_mean == 1.0 for r in stats)


def test_pdf_ocr_pages_operator(spark):
    pdf1 = build_scanned_pdf(["PAGE ONE", "PAGE TWO"])
    pdf2 = build_scanned_pdf(["SOLO"])
    df = spark.createDataFrame(
        [(1, bytearray(pdf1)), (2, bytearray(pdf2)),
         (3, bytearray(b"%PDF garbage"))],
        "doc_id long, payload binary")
    pages = pdf_ocr_pages(df, preprocess=False).orderBy(
        "doc_id", "page_idx").collect()
    assert [(r.doc_id, r.page_idx, r.text) for r in pages[:3]] == [
        (1, 0, "PAGE ONE"), (1, 1, "PAGE TWO"), (2, 0, "SOLO")]
    assert pages[3].status == "error"

    # A7 aggregation
    stats = page_confidence_stats(pdf_ocr_pages(df, preprocess=False)) \
        .orderBy("doc_id").collect()
    assert [(r.doc_id, r.n_pages, r.page_conf_mean) for r in stats] == [
        (1, 2, 1.0), (2, 1, 1.0)]


def test_ocr_roundtrip_operator(spark):
    df = spark.createDataFrame(
        [(0, "hello world, again!"), (1, None), (2, "¡señor único!"),
         (3, "x" * 500)],
        "doc_id long, text string")
    out = ocr_roundtrip(df).orderBy("doc_id").collect()
    assert out[0].ocr_text == "HELLO WORLD, AGAIN!"
    assert out[0].n_tokens == 3 and out[0].confidence == 1.0
    assert out[1].ocr_text == "" and out[1].confidence == 0.0
    # non-ASCII mapped to spaces then collapsed
    assert out[2].ocr_text == "SE OR NICO!"
    assert out[3].ocr_text == "X" * 64


def test_ocr_fallback_arms_inside_spark_workers(spark):
    """Regression: the P3 hook must reach the Python WORKERS, and follow
    each job's setting on reused workers: the picklable
    ocr_fallback_engine spec builds the fallback inside every task."""
    rng = random.Random(23)
    payload, expected = gen_scanned_pdf_payload(rng)
    rows = [("c", 0, "user", payload, None, None),
            ("c", 1, "user", "plain text turn", None, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").repartition(2)
    from advanced_text_extraction_spark.operators.extract import extract

    # unarmed: scanned PDF yields an (effectively) empty short text layer
    out0 = {r.turn_idx: r
            for r in extract(df, ocr_fallback_engine=None).collect()}
    assert out0[0].metadata["text_layer"] == "short"
    assert out0[0].extracted_text.strip() == ""
    # armed via the worker-safe engine spec
    out = {r.turn_idx: r
           for r in extract(df, ocr_fallback_engine="template").collect()}
    assert out[0].metadata["text_layer"] == "ocr"
    assert out[0].extracted_text == expected
    assert 0.5 < out[0].confidence <= 1.0
    assert out[1].extracted_text == "plain text turn"
    # the same reused workers, no engine again: settings stay per job
    out2 = {r.turn_idx: r
            for r in extract(df, ocr_fallback_engine=None).collect()}
    assert out2[0].metadata["text_layer"] == "short"


def test_run_extract_job_ocr_fallback(spark, tmp_path):
    """The flagship job arms the fallback by default (config
    ocr.fallback_engine='auto')."""
    import pandas as pd
    from advanced_text_extraction_spark.plans.pipeline import run_extract_job

    rng = random.Random(31)
    payload, expected = gen_scanned_pdf_payload(rng)
    pdf = pd.DataFrame(
        [("c", 0, "user", payload, None,
          pd.Timestamp("2026-01-01", tz="UTC"))],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["tool"] = pdf["tool"].astype("string")
    pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    inp = str(tmp_path / "in.parquet")
    pdf.to_parquet(inp, index=False)
    run_extract_job(spark, spark.read.parquet(inp), str(tmp_path / "wh"),
                    n_buckets=2, salt=1)
    out = spark.read.parquet(str(tmp_path / "wh") + "/extracted").collect()
    assert len(out) == 1
    assert out[0].metadata["text_layer"] == "ocr"
    assert out[0].extracted_text == expected


# ---------------------------------------------------------------------------
# JPEG codec (baseline sequential, from scratch — r3)
# ---------------------------------------------------------------------------

def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


def test_jpeg_gray_roundtrip():
    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg
    # uniform block is DC-only: must roundtrip exactly
    flat = np.full((24, 40), 200, np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, quality=90)) == flat).all()
    # gradient at non-multiple-of-8 dims: high-fidelity, exact shape
    grad = (np.linspace(0, 255, 37)[None, :]
            * np.ones((29, 1))).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grad, quality=92))
    assert out.shape == grad.shape and _psnr(grad, out) > 40
    # noise (worst case for DCT) still reconstructs closely at q95
    noise = ((np.arange(32 * 32) * 193) % 256).astype(np.uint8).reshape(32, 32)
    out = decode_jpeg(encode_jpeg(noise, quality=95))
    assert _psnr(noise, out) > 35


def test_jpeg_color_444_and_420():
    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg
    yy, xx = np.mgrid[0:33, 0:41]
    img = np.zeros((33, 41, 3), np.uint8)
    img[..., 0] = (xx * 6).astype(np.uint8)
    img[..., 1] = (yy * 7).astype(np.uint8)
    img[..., 2] = 128
    out = decode_jpeg(encode_jpeg(img, quality=92))
    assert out.shape == img.shape and _psnr(img, out) > 40
    out = decode_jpeg(encode_jpeg(img, quality=92, subsample=True))
    assert out.shape == img.shape and _psnr(img, out) > 32  # 4:2:0 chroma


def test_jpeg_restart_markers():
    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg
    img = ((np.arange(64 * 64) * 29) % 256).astype(np.uint8).reshape(64, 64)
    buf = encode_jpeg(img, quality=95, restart_interval=3)
    assert any(bytes([0xFF, 0xD0 + i]) in buf for i in range(8))
    assert _psnr(img, decode_jpeg(buf)) > 35


def test_jpeg_dispatch_and_errors():
    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg
    img = ((np.arange(16 * 24) * 11) % 256).astype(np.uint8).reshape(16, 24)
    buf = encode_jpeg(img, quality=95)
    assert (decode_image(buf) == decode_jpeg(buf)).all()
    with pytest.raises(ImageError):
        decode_jpeg(buf[:40])  # truncated mid-header
    with pytest.raises(ImageError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI only, no SOF/SOS
    # arithmetic-coded (SOF9) is valid JPEG but beyond this decoder:
    # dispatch routes it to the import-guarded real-codec hook, which
    # without cv2 raises NotImplementedError (not a silent wrong decode)
    arith = buf.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(NotImplementedError):
        decode_image(arith)
    # relabeling the SAME sequential stream SOF2 makes it malformed
    # progressive (its single scan spans DC+AC): typed error, no hook
    with pytest.raises(ImageError):
        decode_jpeg(buf.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_ocr_reads_jpeg_render():
    from advanced_text_extraction_spark.kernels.image_codec import decode_jpeg
    from fixtures.image_codec import encode_jpeg
    page = render_page(TXT.split("\n")[0])
    back = decode_jpeg(encode_jpeg(page, quality=95))
    res = ocr_image(back, engine="auto", preprocess=True)
    assert res["text"] == TXT.split("\n")[0]


# ---------------------------------------------------------------------------
# external-engine plug-in seam (r3 — registry contract parity with the
# reference's engine registry, text_extractor.py:320-355,403-423: a real
# tesseract/easyocr/paddleocr install must slot in WITHOUT code changes)
# ---------------------------------------------------------------------------

def test_external_engine_plugs_into_registry(monkeypatch):
    from advanced_text_extraction_spark.kernels import ocr as K

    calls = []

    def fake_tesseract(img):
        calls.append(img.shape)
        return "FAKE ENGINE TEXT", 0.93, [93.0, 92.0]

    monkeypatch.setitem(K.ENGINES, "tesseract", fake_tesseract)
    med = np.full((200, 400), 255, np.uint8)
    assert select_engine(med) == "tesseract"  # default route, when present

    monkeypatch.setitem(K.ENGINES, "easyocr",
                        lambda img: ("EASY", 0.8, [80.0]))
    small = np.full((50, 60), 255, np.uint8)
    assert select_engine(small) == "easyocr"  # small-image route

    monkeypatch.setitem(K.ENGINES, "paddleocr",
                        lambda img: ("PADDLE", 0.9, [90.0]))
    big = np.full((1200, 1300), 255, np.uint8)
    assert select_engine(big) == "paddleocr"  # large+complex route

    # auto selection flows the plugged engine's result through ocr_image
    res = ocr_image(med, engine="auto", preprocess=False)
    assert res["engine"] == "tesseract"
    assert res["text"] == "FAKE ENGINE TEXT"
    assert res["confidence"] == 0.93 and res["token_confs"] == [93.0, 92.0]
    assert calls, "the plugged engine was never invoked"

    # explicit selection and the unknown-engine error contract
    assert ocr_image(small, engine="tesseract",
                     preprocess=False)["text"] == "FAKE ENGINE TEXT"
    with pytest.raises(ValueError, match="not available"):
        ocr_image(small, engine="no-such-engine")


def test_fallback_arming_routes_to_plugged_engine(monkeypatch):
    """A P3 fallback built with an explicit engine name must route
    scanned-PDF pages through the plugged engine — proving a real
    tesseract would carry the PDF OCR fallback with zero code changes."""
    from advanced_text_extraction_spark.kernels import ocr as K

    monkeypatch.setitem(
        K.ENGINES, "tesseract",
        lambda img: ("PLUGGED PAGE TEXT", 0.88, [88.0, 87.0]))

    rng = random.Random(11)
    payload, _expected = gen_scanned_pdf_payload(rng)
    rec = extract_mod.extract_one(
        payload, ocr_fallback=pdf_ocr_fallback(
            ExtractOptions(ocr_fallback_engine="tesseract")))
    assert rec["metadata"]["text_layer"] == "ocr"
    assert "PLUGGED PAGE TEXT" in rec["extracted_text"]
    assert rec["confidence"] == pytest.approx(0.88)

    # the threshold gate rejects a low-confidence plugged engine and
    # keeps the short-but-valid text layer, recording the rejection
    monkeypatch.setitem(K.ENGINES, "tesseract",
                        lambda img: ("LOW CONF", 0.2, [20.0]))
    rec = extract_mod.extract_one(payload, ocr_fallback=pdf_ocr_fallback(
        ExtractOptions(ocr_fallback_engine="tesseract",
                       ocr_confidence_threshold=0.5)))
    assert rec["metadata"]["text_layer"] == "short"
    assert "ocr_error" in rec["metadata"]


def test_jpeg_progressive_matches_baseline_exactly():
    """Progressive (SOF2) decode: the encoder's scan script fully
    refines successive approximation, so the decoded pixels must be
    BIT-IDENTICAL to decoding the baseline stream of the same blocks —
    across gray/color, 4:4:4/4:2:0, odd dims, and EOB-run-heavy
    (flat/gradient) content."""
    from advanced_text_extraction_spark.kernels.image_codec import (
        decode_image, decode_jpeg)
    from fixtures.image_codec import encode_jpeg
    rng = np.random.default_rng(11)
    cases = [
        (rng.integers(0, 256, size=(33, 41), dtype=np.uint8), False),
        (rng.integers(0, 256, size=(33, 41, 3), dtype=np.uint8), True),
        (np.full((96, 128), 130, np.uint8), False),       # long EOB runs
        (((np.mgrid[0:96, 0:128][1] * 2 + np.mgrid[0:96, 0:128][0])
          % 256).astype(np.uint8), False),                # sparse AC
    ]
    spike = np.full((64, 64), 128, np.uint8)              # ZRL + history
    spike[::9, ::11] = 255
    spike[3::13, 5::7] = 0
    cases.append((spike, False))
    for k in range(12):  # random sizes 1..70, gray and color
        h, w = (int(v) for v in rng.integers(1, 71, size=2))
        shape = (h, w) if k % 2 else (h, w, 3)
        cases.append((rng.integers(0, 256, size=shape, dtype=np.uint8),
                      k % 4 == 0))
    for i, (img, sub) in enumerate(cases):
        for q in (40, 92):
            # the baseline stream's restart interval only re-cuts the
            # entropy segments: the coefficients stay the same
            base = encode_jpeg(img, quality=q, subsample=sub,
                               restart_interval=(0, 1, 3)[(i + q) % 3])
            prog = encode_jpeg(img, quality=q, subsample=sub,
                               progressive=True)
            assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
            assert np.array_equal(decode_jpeg(base), decode_jpeg(prog))
            # dispatch decodes progressive natively (no hook, no cv2)
            assert np.array_equal(decode_image(prog), decode_jpeg(prog))


def test_jpeg_single_component_scan_walks_block_raster():
    """T.81 A.2.2: a non-interleaved scan's MCU is one block, taken in
    the component's block-raster order whatever its sampling factors. A
    gray baseline stream whose SOF claims 2x2 sampling codes the same
    blocks in the same order as its 1x1 twin, so it decodes to the same
    pixels (not in MCU order, 4 blocks at a time)."""
    from advanced_text_extraction_spark.kernels.image_codec import (
        decode_jpeg)
    from fixtures.image_codec import encode_jpeg
    rng = np.random.default_rng(13)
    for h, w in [(8, 8), (17, 29), (64, 64)]:
        raw = encode_jpeg(rng.integers(0, 256, (h, w), dtype=np.uint8),
                          quality=80)
        i = raw.index(b"\xff\xc0") + 11  # first component's sampling
        assert raw[i] == 0x11
        claimed = raw[:i] + b"\x22" + raw[i + 1:]
        assert np.array_equal(decode_jpeg(claimed), decode_jpeg(raw))


def test_jpeg_progressive_scan_coders_property():
    """Coefficient-level adversarial check, no DCT in the loop: random
    sparse zigzag blocks → AC first + refine token streams → bits →
    the progressive scan decoders must reproduce the blocks exactly
    (covers EOBn runs, ZRL-with-history interleaving, band splits)."""
    from advanced_text_extraction_spark.kernels.image_codec import (
        _ac_first, _ac_refine, _BitReader, _canonical_codes)
    from fixtures.image_codec import (
        _BitWriter, _ac_first_tokens, _ac_refine_tokens, _build_dht,
        _encode_codes, _write_tokens)

    rng = np.random.default_rng(23)
    for trial in range(20):
        bw, bh = int(rng.integers(1, 5)), int(rng.integers(1, 4))
        blocks = np.zeros((bh, bw, 64), dtype=np.int64)
        # sparse magnitudes with long zero runs and mixed history levels
        for my in range(bh):
            for mx in range(bw):
                n = int(rng.integers(0, 8))
                ks = rng.choice(np.arange(1, 64), size=n, replace=False)
                blocks[my, mx, ks] = rng.choice(
                    [-70, -17, -3, -2, -1, 1, 2, 3, 18, 90], size=n)
        for ss, se in [(1, 63), (1, 5), (6, 63), (17, 40)]:
            al = 1
            got = np.zeros_like(blocks)
            for tokens_fn, decoder, ah in [
                    (_ac_first_tokens, _ac_first, 0),
                    (_ac_refine_tokens, _ac_refine, 1)]:
                a_l = al if ah == 0 else 0
                toks = tokens_fn(blocks, bw, bh, ss, se, a_l)
                spec = _build_dht([t[1] for t in toks if t[0] == "s"])
                wr = _BitWriter()
                _write_tokens(wr, toks, _encode_codes(*spec))
                wr.flush()
                reader = _BitReader(bytes(wr.out))
                tab = _canonical_codes(*spec)
                eobrun = 0
                for m in range(bw * bh):
                    my, mx = divmod(m, bw)
                    eobrun = decoder(reader, got[my, mx], ss, se, a_l,
                                     tab, eobrun)
            band = slice(ss, se + 1)
            assert (got[:, :, band] == blocks[:, :, band]).all(), \
                f"trial {trial} band {ss}-{se}"
