"""WebP lossless (VP8L) codec — the last format in the reference's
accepted image set (/root/reference/text_extractor.py:773) decoded from
scratch.

Round-trip matrix covers every encoder-reachable decoder path (all 14
predictor modes incl. per-block mixes, color transform, subtract-green,
palettes at every bundling width, LZ77 runs, color cache); hand-built
bitstreams cover the decoder-only paths the fixture writer never emits
(meta-prefix groups, 2D plane-code distances, the max-symbol cutoff in
code-length reading); fuzz pins the failure-as-data totality contract.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from advanced_text_extraction_spark.kernels.image_codec import (
    ImageError, decode_image)
from advanced_text_extraction_spark.kernels.webp_codec import decode_webp
from fixtures.webp_codec import (
    _BitW, _huffman_lengths, _write_prefix_code, encode_webp)


def _imgs() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(23)
    return {
        "noise": rng.integers(0, 256, (13, 17, 3), dtype=np.uint8),
        "ramp": np.stack([(np.arange(24 * 31).reshape(24, 31) % 251)
                          .astype(np.uint8)] * 3, axis=-1),
        "one_px": np.asarray([[[7, 8, 9]]], np.uint8),
        "flat": np.full((16, 16, 3), 130, np.uint8),
        "wide": rng.integers(0, 256, (1, 300, 3), dtype=np.uint8),
        "tall": rng.integers(0, 256, (300, 1, 3), dtype=np.uint8),
    }


_FLAG_MATRIX = [
    dict(),
    dict(subtract_green=True),
    dict(color_transform=(23, 200, 11)),
    dict(cache_bits=6),
    dict(rle=True),
    dict(subtract_green=True, predictor=5, cache_bits=3, rle=True),
    dict(color_transform=(130, 7, 250), predictor=13, rle=True,
         cache_bits=2),
]


@pytest.mark.parametrize("flags", _FLAG_MATRIX,
                         ids=lambda f: "+".join(sorted(f)) or "plain")
def test_roundtrip_matrix(flags):
    for name, img in _imgs().items():
        buf = encode_webp(img, **flags)
        out = decode_webp(buf)
        assert out.shape == img.shape, name
        assert (out == img).all(), name
        assert (decode_image(buf) == img).all(), name  # dispatch


@pytest.mark.parametrize("mode", list(range(14)))
def test_every_predictor_mode(mode):
    img = _imgs()["noise"]
    assert (decode_webp(encode_webp(img, predictor=mode,
                                    predictor_bits=2)) == img).all()


def test_per_block_mixed_predictor_modes():
    img = _imgs()["noise"]
    h, w = img.shape[:2]
    mw, mh = (w + 3) // 4, (h + 3) // 4
    modes = (np.arange(mw * mh) % 14).reshape(mh, mw)
    buf = encode_webp(img, predictor=modes, predictor_bits=2)
    assert (decode_webp(buf) == img).all()


@pytest.mark.parametrize("ncolors", [2, 3, 4, 16, 17, 200])
def test_palette_every_bundling_width(ncolors):
    rng = np.random.default_rng(ncolors)
    idx = rng.integers(0, ncolors, (9, 21), dtype=np.uint8)
    img = (idx * (255 // max(1, ncolors - 1))).astype(np.uint8)
    buf = encode_webp(img, palette=True)
    assert (decode_webp(buf) == np.stack([img] * 3, axis=-1)).all()


def test_gray_input_roundtrips_as_rgb():
    gray = _imgs()["ramp"][:, :, 0]
    out = decode_webp(encode_webp(gray))
    assert out.shape == (*gray.shape, 3)
    assert (out == gray[:, :, None]).all()


# ---------------------------------------------------------------------------
# hand-built streams for decoder-only paths
# ---------------------------------------------------------------------------

def _wrap(bw: _BitW) -> bytes:
    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\0"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _header(bw: _BitW, w: int, h: int) -> None:
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _single_codes(bw: _BitW, a: int, r: int, g: int, b: int) -> None:
    """Five one-symbol codes: every pixel of this group decodes to the
    given ARGB with ZERO data bits."""
    _write_prefix_code(bw, {g: 1}, 280)
    _write_prefix_code(bw, {r: 1}, 256)
    _write_prefix_code(bw, {b: 1}, 256)
    _write_prefix_code(bw, {a: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)


def test_meta_prefix_groups_route_pixels_to_their_group():
    """8x2 image, meta block size 4: left half group 0 (solid red),
    right half group 1 (solid blue) — each group's codes can ONLY emit
    its color, so any group-lookup defect changes pixels."""
    bw = _BitW()
    _header(bw, 8, 2)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta prefix codes present
    bw.write(0, 3)  # meta_bits = 2 -> meta image is 2x1
    # meta image (level0=False): no cache bit... (it has its own)
    bw.write(0, 1)  # meta image: no color cache
    # meta image pixel codes: greens 0 and 1 give group ids 0 and 1
    _write_prefix_code(bw, {0: 1, 1: 1}, 280)  # green: 1 bit per pixel
    _write_prefix_code(bw, {0: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 256)
    _write_prefix_code(bw, {255: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)
    bw.write(0, 1)  # meta pixel (0,0): green 0 -> group 0
    bw.write(1, 1)  # meta pixel (1,0): green 1 -> group 1
    _single_codes(bw, 255, 200, 10, 20)   # group 0
    _single_codes(bw, 255, 30, 40, 250)   # group 1
    out = decode_webp(_wrap(bw))
    assert out.shape == (2, 8, 3)
    assert (out[:, :4] == [200, 10, 20]).all()
    assert (out[:, 4:] == [30, 40, 250]).all()


def test_plane_code_distance_maps_to_row_above():
    """LZ77 distance code 1 is the 2D offset (0,1) = one full row up;
    a decoder without the 120-entry map reads it as distance 1 and
    smears the first pixel instead of copying the row."""
    w, h = 5, 2
    colors = [(200, 10, 20), (30, 200, 40), (5, 6, 7), (99, 98, 97),
              (1, 128, 255)]
    bw = _BitW()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    greens = sorted({c[1] for c in colors})
    reds = sorted({c[0] for c in colors})
    blues = sorted({c[2] for c in colors})
    # green alphabet: the 5 literal greens + length code 260 (len 5)
    gmap = _write_prefix_code(
        bw, _huffman_lengths({**{g: 1 for g in greens}, 260: 1}, 15), 280)
    rmap = _write_prefix_code(
        bw, _huffman_lengths({r: 1 for r in reds}, 15), 256)
    bmap = _write_prefix_code(
        bw, _huffman_lengths({b: 1 for b in blues}, 15), 256)
    amap = _write_prefix_code(bw, {255: 1}, 256)
    dmap = _write_prefix_code(bw, {0: 1}, 40)  # dist symbol 0 -> value 1
    for r, g, b in colors:
        bw.write_code(*gmap[g])
        bw.write_code(*rmap[r])
        bw.write_code(*bmap[b])
        bw.write_code(*amap[255])
    # copy(length=5): green symbol 256+4 (prefix code 4, 1 extra bit = 0)
    bw.write_code(*gmap[260])
    bw.write(0, 1)
    bw.write_code(*dmap[0])  # plane code 1 -> (0,1) -> dist = w = 5
    out = decode_webp(_wrap(bw))
    assert (out[0] == np.asarray(colors, np.uint8)).all()
    assert (out[1] == out[0]).all()


def test_max_symbol_cutoff_in_code_length_reading():
    """A green code declared via the optional max-symbol mechanism: two
    1-bit symbols {0,1}, cutoff after 2 reads, all later lengths
    implicitly zero."""
    bw = _BitW()
    _header(bw, 2, 1)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    # green code, normal form, via max-symbol cutoff
    bw.write(0, 1)   # not simple
    bw.write(15, 4)  # 19 code-length slots
    for sym in (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10,
                11, 12, 13, 14, 15, 16):
        bw.write(1 if sym == 1 else 0, 3)  # cl code: single symbol '1'
    bw.write(1, 1)   # use max_symbol
    bw.write(0, 3)   # length_nbits = 2
    bw.write(0, 2)   # max_symbol = 2 -> exactly two zero-bit cl reads
    _write_prefix_code(bw, {7: 1}, 256)    # red
    _write_prefix_code(bw, {8: 1}, 256)    # blue
    _write_prefix_code(bw, {255: 1}, 256)  # alpha
    _write_prefix_code(bw, {0: 1}, 40)     # distance
    bw.write(0, 1)  # pixel 0: green 0
    bw.write(1, 1)  # pixel 1: green 1
    out = decode_webp(_wrap(bw))
    assert (out == [[[7, 0, 8], [7, 1, 8]]]).all()


# ---------------------------------------------------------------------------
# container / error paths
# ---------------------------------------------------------------------------

def test_vp8x_wrapped_lossless_decodes():
    base = encode_webp(_imgs()["flat"])
    vp8l = base[12:]  # the VP8L chunk (incl. header + any pad)
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\0" * 10
    body = b"WEBP" + vp8x + vp8l
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    assert (decode_webp(buf) == 130).all()


def test_lossy_vp8_routes_to_real_hook():
    body = b"WEBP" + b"VP8 " + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(NotImplementedError):
        decode_webp(buf)


def test_malformed_inputs_raise_typed_error():
    good = encode_webp(_imgs()["flat"])
    cases = [
        b"RIFF",                          # truncated header
        b"RIFFxxxxWAVE" + b"\0" * 8,      # not WEBP
        b"RIFF\x04\x00\x00\x00WEBP",      # no image chunk
        good[:20],                        # truncated mid-chunk
        good[:12] + b"VP8L\x01\x00\x00\x00\x00",  # bad signature byte
    ]
    for buf in cases:
        with pytest.raises(ImageError):
            decode_webp(buf)


def test_depth_limited_fallback_is_a_complete_code():
    """Fibonacci-weighted frequencies push plain Huffman past any depth
    cap; the fallback must emit a COMPLETE near-balanced code (Kraft
    sum exactly 1) — a flat ceil(log2(n))-bit code over a
    non-power-of-two alphabet is incomplete and the decoder rejects the
    whole stream (r4 review finding)."""
    freqs = {s: f for s, f in enumerate([1, 1, 2, 3, 5, 8, 13, 21, 34, 55])}
    lengths = _huffman_lengths(freqs, 7)
    assert max(lengths.values()) <= 7
    assert sum(2.0 ** -l for l in lengths.values()) == 1.0
    # and end-to-end through the serializer + decoder
    bw = _BitW()
    codes = _write_prefix_code(bw, lengths, 256)
    from advanced_text_extraction_spark.kernels.webp_codec import (
        _Bits, _read_prefix_code)
    p = _read_prefix_code(_Bits(bw.bytes()), 256)
    for sym, (code, ln) in codes.items():
        bw2 = _BitW()
        bw2.write_code(code, ln)
        assert p.read(_Bits(bw2.bytes() or b"\0")) == sym


def test_simple_code_pair_storage_order_not_canonical():
    """libwebp assigns code 0 to the FIRST STORED symbol of a simple
    2-symbol code; a foreign file storing the pair descending (s0=200,
    s1=3) must decode 0→200, 1→3 — canonical (by-value) assignment would
    swap them (ADVICE r4)."""
    from advanced_text_extraction_spark.kernels.webp_codec import (
        _Bits, _read_prefix_code)
    from fixtures.webp_codec import _BitW
    bw = _BitW()
    bw.write(1, 1)    # simple form
    bw.write(1, 1)    # two symbols
    bw.write(1, 1)    # first symbol stored in 8 bits
    bw.write(200, 8)  # s0
    bw.write(3, 8)    # s1
    p = _read_prefix_code(_Bits(bw.bytes()), 256)
    for code, sym in [(0, 200), (1, 3)]:
        bw2 = _BitW()
        bw2.write_code(code, 1)
        assert p.read(_Bits(bw2.bytes() or b"\0")) == sym


def test_oversized_dims_rejected_before_allocation():
    bw = _BitW()
    _header(bw, 16384, 16384)
    with pytest.raises(ImageError, match="1M-pixel"):
        decode_webp(_wrap(bw))


def test_fuzz_totality_over_corrupt_webps():
    """Bit-flipped / truncated VP8L streams: ndarray, ImageError, or the
    real-hook NotImplementedError — never an unhandled exception."""
    rng = random.Random(31)
    imgs = _imgs()
    base = [encode_webp(imgs["noise"], **f) for f in _FLAG_MATRIX[:4]]
    base.append(encode_webp(
        (np.arange(64, dtype=np.uint8).reshape(8, 8) % 4) * 80,
        palette=True))
    samples = []
    for raw in base:
        for _ in range(40):
            ba = bytearray(raw)
            for _ in range(rng.randrange(1, 10)):
                ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
            samples.append(bytes(ba))
            samples.append(raw[:rng.randrange(len(raw))])
    for s in samples:
        try:
            out = decode_webp(s)
            assert isinstance(out, np.ndarray)
        except (ImageError, NotImplementedError):
            pass


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 12), st.integers(1, 12), st.integers(0, 2 ** 32 - 1),
       st.booleans(), st.booleans(), st.integers(0, 4),
       st.sampled_from([None, 1, 7, 11, 12, 13]))
def test_roundtrip_property(w, h, seed, sg, rle, cache, pred):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    buf = encode_webp(img, subtract_green=sg, rle=rle,
                      cache_bits=cache, predictor=pred)
    assert (decode_webp(buf) == img).all()
