"""Seeded adversarial-input fuzz over every kernel surface.

The failure-as-data contract (reference batch loop swallows per-file
errors — text_extractor.py:1186-1201; SPEC.md §6 status/error columns)
means a kernel CRASH on one payload fails a whole Spark task and, after
retries, the job. These tests drive each kernel with corrupt payloads —
truncations, bitflips, spliced garbage, random bytes — and require
either a result row or the kernel's own typed error, never an
unhandled exception. Seeds are fixed so failures reproduce.
"""

from __future__ import annotations

import base64
import random
import struct

import numpy as np
import pyarrow as pa
import pytest

from advanced_text_extraction_spark.kernels.encoding import decode_bytes
from advanced_text_extraction_spark.kernels.image_codec import (
    ImageError, decode_image)
from fixtures.image_codec import (
    _png_chunk, encode_bmp_gray, encode_pgm, encode_png_gray, encode_tiff,
    png_gray_bomb)
from advanced_text_extraction_spark.kernels.ocr import ocr_image, render_page
from advanced_text_extraction_spark.operators.extract import (
    _make_kernel, extract_one)
from advanced_text_extraction_spark.kernels.sniff import MAX_INFLATE_BYTES
from fixtures.gen import (
    build_flate_bomb_pdf, build_pdf, build_scanned_pdf, build_zip_bomb_docx,
    gen_docx_payload, gen_pptx_payload, gen_xlsx_payload)


def _rand_bytes(rng: random.Random, n: int) -> bytes:
    return bytes(rng.randrange(256) for _ in range(n))


def _bitflip(rng: random.Random, raw: bytes, flips: int) -> bytes:
    ba = bytearray(raw)
    for _ in range(flips):
        ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
    return bytes(ba)


def corrupt_payloads() -> list[str | None]:
    """The seeded corrupt-payload corpus: unicode garbage, tag soup, HTML
    constructs cut or malformed at the end of the input, corrupt PDFs and
    office zips, and pathological scalars."""
    rng = random.Random(42)
    cases: list[str | None] = []
    # unicode garbage
    for _ in range(60):
        cases.append("".join(chr(rng.randrange(32, 1200))
                             for _ in range(rng.randrange(0, 800))))
    # html-ish tag soup
    frag = ["<div", "<p>", "</p>", "<a href='", "&amp;", "&#x", "<!--",
            "--!>", "<script>", "</div", ">", "<", "&", "\"", "'",
            "<![CDATA[", "<table><tr><td>", "</html>", "<br/>"]
    for _ in range(60):
        cases.append("".join(rng.choice(frag)
                             for _ in range(rng.randrange(1, 40))))
    # corrupt base64 PDFs (text-layer and scanned)
    pdf = build_pdf([["hello world fuzz"]], random.Random(1), flate=True)
    spdf = build_scanned_pdf(["FUZZ PAGE"], scale=2)
    for raw in (pdf, spdf):
        b64 = base64.b64encode(raw).decode()
        for _ in range(30):
            mode = rng.randrange(3)
            if mode == 0:
                cases.append(b64[:rng.randrange(len(b64))])
            elif mode == 1:
                cases.append(base64.b64encode(
                    _bitflip(rng, raw, rng.randrange(1, 20))).decode())
            else:
                cases.append(base64.b64encode(
                    b"%PDF-1.4" + _rand_bytes(rng, rng.randrange(800)))
                    .decode())
    # corrupt office zips
    for gen in (gen_docx_payload, gen_xlsx_payload, gen_pptx_payload):
        b64 = gen(random.Random(2))
        if isinstance(b64, tuple):
            b64 = b64[0]
        raw = base64.b64decode(b64)
        for _ in range(20):
            cases.append(base64.b64encode(
                _bitflip(rng, raw, rng.randrange(1, 25))).decode())
            cases.append(b64[:rng.randrange(len(b64))])
    # HTML that ends inside a construct, or holds references and bytes
    # the event scanner must treat exactly as html.parser does
    cases += [
        "<p>a &#xD800; b &#55296; c &#xDFFF;</p>",     # surrogates
        "<p>big &#x110000; &#99999999999999999999; &#0;</p>",
        "<p>tail &#", "<p>tail &", "<p>tail &#x", "<p>tail &am",
        "<div><p>unterminated <a href='x", "<p>open <!-- comment",
        "<p>before</p><script>var x = '<p>no</p>';", "<style>p{}",
        "<p>one\rtwo\r<b>three</b>\r</p>\r<p>four</p>",
        "<p>nul\x00byte</p>\x00<di\x00v>x</div>",
    ]
    # marked sections: two the stdlib parser rejects (they end as error
    # rows), and three cut short
    cases += [
        "<html><p>hi</p><![foo]></html>", "<p>x</p><![ x]>",
        "<p>x</p><![if !mso", "<p>x</p><![cdata[ <b>y</b>", "<p>x</p><![",
    ]
    # pathological scalars
    cases += [None, "", " ", "\x00" * 100, "<" * 5000, "&" * 5000,
              "%PDF-", "PK\x03\x04", "﻿" * 200]
    return cases


def test_extract_one_never_raises_on_corrupt_payloads():
    for payload in corrupt_payloads():
        rec = extract_one(payload)          # must never raise
        assert rec["status"] in ("ok", "error", "empty")


def test_arrow_kernel_keeps_every_corrupt_payload():
    """The same corpus as one batch through the mapInArrow kernel, whose
    Arrow arrays reject what a plain record does not (a lone surrogate in
    a string column fails the whole task): one row per payload, each with
    a valid status."""
    cases = corrupt_payloads()
    batch = pa.RecordBatch.from_pylist(
        [{"conv_id": "c", "turn_idx": i, "text": p}
         for i, p in enumerate(cases)])
    out = pa.Table.from_batches(list(_make_kernel(None)(iter([batch]))))
    assert out.column("turn_idx").to_pylist() == list(range(len(cases)))
    assert set(out.column("status").to_pylist()) <= {"ok", "error", "empty"}


@pytest.mark.parametrize("bomb", [
    "pdf-one-stream", "pdf-streams-over-budget-together", "docx-member",
    "docx-member-understated"])
def test_inflate_bombs_end_as_error_rows(bomb):
    """Deflate expands ~1000:1, so a payload under the char cap can claim
    gigabytes. Each bomb ends as a status='error' row, and the largest
    (4x the budget in one stream) peaks at a bounded allocation."""
    import tracemalloc

    budget = MAX_INFLATE_BYTES
    raw = {
        "pdf-one-stream": lambda: build_flate_bomb_pdf(4 * budget),
        # each stream alone is under the budget; the document is not
        "pdf-streams-over-budget-together":
            lambda: build_flate_bomb_pdf(budget // 2, n_pages=3),
        "docx-member": lambda: build_zip_bomb_docx(budget + (16 << 20)),
        "docx-member-understated":
            lambda: build_zip_bomb_docx(budget + (16 << 20), 1000),
    }[bomb]()
    tracemalloc.start()
    try:
        row = extract_one(base64.b64encode(raw).decode())
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert row["status"] == "error", row["metadata"]
    assert row["extracted_text"] == ""
    assert row["error"]
    assert peak < 3 * budget, peak


def test_png_idat_bomb_inflates_only_the_pixels():
    """A 16x16 gray PNG whose IDAT inflates to 256 MiB: the decoder
    inflates only the bytes the header's dimensions need, so it returns
    the image's pixels from a small, bounded allocation."""
    import tracemalloc

    img = ((np.arange(256) * 7) % 251).astype(np.uint8).reshape(16, 16)
    buf = png_gray_bomb(img, 256 << 20)
    tracemalloc.start()
    try:
        out = decode_image(buf)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert (out == img).all()
    assert peak < 8 << 20, peak


def test_png_short_idat_keeps_its_error_messages():
    """The bounded inflate keeps zlib.decompress's message for a stream
    cut short, also when it already holds every pixel, and reports a
    finished stream too short for the header's dimensions as truncated
    pixel data."""
    import zlib

    img = ((np.arange(12 * 9) * 5) % 251).astype(np.uint8).reshape(12, 9)
    png = encode_png_gray(img)
    at = png.index(b"IDAT")
    (n,) = struct.unpack(">I", png[at - 4:at])
    idat = png[at + 4:at + 4 + n]

    def with_idat(data: bytes) -> bytes:
        return png[:at - 4] + _png_chunk(b"IDAT", data) + png[at + 8 + n:]

    with pytest.raises(ImageError, match="^PNG inflate failed: Error -5 "
                       "while decompressing data: incomplete or truncated "
                       "stream$"):
        decode_image(with_idat(idat[:len(idat) // 2]))
    with pytest.raises(ImageError, match="^PNG inflate failed: Error -5"):
        decode_image(with_idat(idat[:-4]))  # all pixels, no checksum
    rows = b"".join(b"\0" + r.tobytes() for r in img[:6])
    with pytest.raises(ImageError, match="^truncated PNG pixel data$"):
        decode_image(with_idat(zlib.compress(rows)))
    assert (decode_image(with_idat(idat)) == img).all()


def test_decode_image_raises_only_its_own_error_type():
    from fixtures.image_codec import encode_jpeg

    rng = random.Random(99)
    samples = [_rand_bytes(rng, rng.randrange(0, 300)) for _ in range(60)]
    img = render_page("FUZZ", scale=2)
    for enc in (encode_pgm, encode_bmp_gray, encode_png_gray, encode_jpeg,
                encode_tiff):
        raw = enc(img)
        for _ in range(25):
            samples.append(_bitflip(rng, raw, rng.randrange(1, 12)))
            samples.append(raw[:rng.randrange(len(raw))])
    for s in samples:
        try:
            arr = decode_image(s)
            assert isinstance(arr, np.ndarray)
        except ImageError:
            pass                             # the typed, catchable path
        except NotImplementedError:
            # a flip can turn SOF0 into a progressive/arithmetic SOF
            # marker — valid JPEG beyond baseline routes to the
            # import-guarded real-codec hook, absent in this container
            pass


@pytest.mark.parametrize("preprocess", [False, True])
def test_ocr_image_handles_degenerate_rasters(preprocess):
    arrs = [np.zeros((1, 1), np.uint8),
            np.zeros((50, 50), np.uint8),              # all ink
            np.full((50, 50), 255, np.uint8),          # blank
            (np.random.RandomState(3).rand(80, 120) * 255).astype(np.uint8),
            np.zeros((1, 400), np.uint8),              # 1px-tall bar
            np.zeros((400, 1), np.uint8),              # 1px-wide bar
            np.eye(64, dtype=np.uint8) * 255]
    for a in arrs:
        res = ocr_image(a, engine="template", preprocess=preprocess)
        assert isinstance(res["text"], str)
        assert 0.0 <= res["confidence"] <= 1.0


def test_decode_bytes_is_total_over_random_binary():
    rng = random.Random(7)
    for _ in range(120):
        text, enc, conf = decode_bytes(_rand_bytes(rng, rng.randrange(0, 300)))
        assert isinstance(text, str) and 0.0 <= conf <= 1.0
        # the named codec must actually round-trip the decision
        assert enc


def test_progressive_jpeg_decoder_total_over_corruption():
    """Bit-flipped / truncated progressive (SOF2) streams must hit the
    typed ImageError (or still decode, or route exotic-SOF relabels to
    the hook) — never an uncaught exception or a hang. The multi-scan
    walk adds parser surface (scan headers, EOBn, refinement bits) that
    baseline fuzzing cannot reach."""
    from fixtures.image_codec import encode_jpeg

    rng = random.Random(7)
    img = render_page("PROG FUZZ 42", scale=2)
    rgb = np.dstack([img, img, img])
    samples = []
    for raw in (encode_jpeg(img, quality=90, progressive=True),
                encode_jpeg(rgb, quality=85, subsample=True,
                            progressive=True)):
        for _ in range(40):
            samples.append(_bitflip(rng, raw, rng.randrange(1, 10)))
            samples.append(raw[:rng.randrange(len(raw))])
    for s in samples:
        try:
            arr = decode_image(s)
            assert isinstance(arr, np.ndarray)
        except (ImageError, NotImplementedError):
            pass
