"""CCITT Group 4 (T.6) fax codec: code-table structure, hand vectors,
roundtrip properties, TIFF container integration, fuzz totality."""

from __future__ import annotations

import random

import numpy as np
import pytest

from advanced_text_extraction_spark.kernels.fax_codec import (
    _BLACK_CODES, _EXT_MAKEUP, _WHITE_CODES, g4_decode)
from fixtures.fax_codec import g4_encode
from advanced_text_extraction_spark.kernels.image_codec import (
    ImageError, decode_tiff)
from fixtures.image_codec import encode_tiff


def _unpack(data: bytes, w: int, h: int) -> np.ndarray:
    return np.unpackbits(
        np.frombuffer(data, np.uint8).reshape(h, -1), axis=1)[:, :w]


# --------------------------------------------------------------- tables
def test_run_tables_complete_and_prefix_free():
    """T.4 §2: terminating codes 0-63 and makeups 64..1728 in steps of
    64 for both colors, shared extended makeups 1792..2560; each color's
    full code set (with the extensions) must be prefix-free or decode is
    ambiguous."""
    for table in (_WHITE_CODES, _BLACK_CODES):
        assert sorted(k for k in table if k < 64) == list(range(64))
        assert sorted(k for k in table if k >= 64) == list(
            range(64, 1729, 64))
        codes = sorted({**table, **_EXT_MAKEUP}.values(), key=len)
        for i, a in enumerate(codes):
            for b in codes[i + 1:]:
                assert not b.startswith(a), (a, b)
    assert sorted(_EXT_MAKEUP) == list(range(1792, 2561, 64))


def test_known_codes_match_spec():
    # spot checks against the published T.4 tables
    assert _WHITE_CODES[0] == "00110101"
    assert _WHITE_CODES[1] == "000111"
    assert _WHITE_CODES[64] == "11011"
    assert _WHITE_CODES[1664] == "011000"
    assert _BLACK_CODES[0] == "0000110111"
    assert _BLACK_CODES[1] == "010"
    assert _BLACK_CODES[2] == "11"
    assert _BLACK_CODES[64] == "0000001111"
    assert _EXT_MAKEUP[2560] == "000000011111"


# -------------------------------------------------------- hand vectors
def _bits_to_bytes(s: str) -> bytes:
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def test_hand_vector_horizontal_mode():
    """H mode (001) + white-3 (1000) + black-2 (11) codes the 5-pixel
    row wwwbb against the all-white reference line."""
    data = _bits_to_bytes("001" + "1000" + "11")
    row = _unpack(g4_decode(data, 5, 1), 5, 1)[0]
    assert row.tolist() == [0, 0, 0, 1, 1]


def test_hand_vector_vertical_and_pass():
    """Row 1 coded H(w2,b2); row 2: V0 tracks the b/w edge at 2, then
    V0 at 4 closes the black run identically — columns align."""
    data = _bits_to_bytes(
        "001" + "0111" + "11"      # row 1: H white-2 black-2 (w=4: wwbb)
        + "1" + "1")               # row 2: V0, V0 → same row
    px = _unpack(g4_decode(data, 4, 2), 4, 2)
    assert px.tolist() == [[0, 0, 1, 1], [0, 0, 1, 1]]


def test_premature_eofb_raises():
    ink = np.ones((3, 9), bool)
    enc = g4_encode(ink)
    with pytest.raises(ImageError):
        g4_decode(enc, 9, 5)  # demands more rows than were coded


def test_uncompressed_extension_rejected():
    data = _bits_to_bytes("0000001" + "111" + "0" * 30)
    with pytest.raises(ImageError):
        g4_decode(data, 8, 1)


# ---------------------------------------------------------- roundtrips
def test_roundtrip_property():
    rng = np.random.default_rng(5)
    for trial in range(40):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 300))
        kind = trial % 4
        if kind == 0:
            ink = rng.random((h, w)) < 0.5  # worst case: noise
        elif kind == 1:
            ink = np.zeros((h, w), bool)
        elif kind == 2:
            ink = np.ones((h, w), bool)
        else:  # text-like: sparse rectangles
            ink = np.zeros((h, w), bool)
            for _ in range(int(rng.integers(1, 8))):
                x0 = int(rng.integers(0, w))
                y0 = int(rng.integers(0, h))
                ink[y0:y0 + int(rng.integers(1, 9)),
                    x0:x0 + int(rng.integers(1, 30))] = True
        enc = g4_encode(ink)
        got = _unpack(g4_decode(enc, w, h), w, h)
        assert (got == ink).all(), (trial, h, w)


def test_g3_mh_roundtrip_property():
    """The T.4 tiers share g4's property sweep: MH (independent
    byte-aligned rows), G3 1D (EOL-separated), G3 2D (tag-bit-mixed
    1D first row + 2D lines against the previous row)."""
    from advanced_text_extraction_spark.kernels.fax_codec import (
        g3_decode, mh_decode)
    from fixtures.fax_codec import g3_encode, mh_encode
    rng = np.random.default_rng(17)
    for trial in range(24):
        h = int(rng.integers(1, 30))
        w = int(rng.integers(1, 300))
        kind = trial % 4
        if kind == 0:
            ink = rng.random((h, w)) < 0.5
        elif kind == 1:
            ink = np.zeros((h, w), bool)
        elif kind == 2:
            ink = np.ones((h, w), bool)
        else:
            ink = np.zeros((h, w), bool)
            for _ in range(int(rng.integers(1, 8))):
                x0 = int(rng.integers(0, w))
                y0 = int(rng.integers(0, h))
                ink[y0:y0 + int(rng.integers(1, 9)),
                    x0:x0 + int(rng.integers(1, 30))] = True
        assert (_unpack(mh_decode(mh_encode(ink), w, h), w, h)
                == ink).all(), (trial, "mh")
        assert (_unpack(g3_decode(g3_encode(ink), w, h), w, h)
                == ink).all(), (trial, "g3-1d")
        assert (_unpack(g3_decode(g3_encode(ink, two_d=True), w, h,
                                  two_d=True), w, h)
                == ink).all(), (trial, "g3-2d")


def test_mh_rows_are_byte_aligned_and_independent():
    """TIFF §10: each MH row starts on a byte boundary — decoding row 2
    must not depend on row 1's trailing bit position."""
    from advanced_text_extraction_spark.kernels.fax_codec import mh_decode
    from fixtures.fax_codec import mh_encode
    ink = np.zeros((2, 9), bool)
    ink[0, 3:5] = True   # row 0 codes in a non-multiple-of-8 bit count
    ink[1, 0:9] = True
    enc = mh_encode(ink)
    assert (_unpack(mh_decode(enc, 9, 2), 9, 2) == ink).all()


def test_g3_eol_with_fill_bits_tolerated():
    """T4Options bit-2 writers pad EOLs with leading fill zeros; the
    decoder must absorb any number of them."""
    from advanced_text_extraction_spark.kernels.fax_codec import g3_decode
    # one all-white row of width 4: EOL + white-4 ("1011"), with 5 fill
    # zeros before the EOL
    bits = "0" * 5 + "000000000001" + "1011"
    bits += "0" * (-len(bits) % 8)
    data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    assert (_unpack(g3_decode(data, 4, 1), 4, 1) == 0).all()


def test_g3_missing_eol_raises():
    from advanced_text_extraction_spark.kernels.fax_codec import g3_decode
    with pytest.raises(ImageError):
        g3_decode(b"\xb0", 4, 1)  # starts with a 1: no 11-zero EOL


def test_roundtrip_wide_runs_use_makeups():
    # runs > 2560 need chained extended makeup codes
    ink = np.zeros((2, 6000), bool)
    ink[1, 100:5900] = True
    enc = g4_encode(ink)
    got = _unpack(g4_decode(enc, 6000, 2), 6000, 2)
    assert (got == ink).all()


def test_compression_beats_raw_on_text():
    img = np.full((64, 256), 255, np.uint8)
    img[10:14, 20:200] = 0
    img[20:50, 30:34] = 0
    enc = g4_encode(img < 128)
    assert len(enc) < (64 * 256 // 8) // 4  # ≥4x vs packed raw


# ------------------------------------------------------ TIFF container
def test_tiff_g4_roundtrip_orders_and_strips():
    rng = np.random.default_rng(11)
    img = (rng.random((33, 101)) < 0.4).astype(np.uint8) * 255
    for bo in "<>":
        for rps in (None, 7):
            t = encode_tiff(img, compression="g4", byteorder=bo,
                            rows_per_strip=rps)
            back = decode_tiff(t)
            assert back.shape == img.shape and (back == img).all(), \
                (bo, rps)


def test_tiff_g4_photometric_zero_is_white():
    # all-light image → all T.6 white runs → decodes back to 255s
    img = np.full((5, 40), 255, np.uint8)
    assert (decode_tiff(encode_tiff(img, compression="g4")) == 255).all()
    img[2, 10:30] = 0
    back = decode_tiff(encode_tiff(img, compression="g4"))
    assert (back == img).all()


def test_tiff_g4_fuzz_totality():
    """Bit-flipped / truncated G4 TIFFs: ndarray or ImageError (or the
    real-hook NotImplementedError for rerouted shapes) — never an
    unhandled exception."""
    rng = random.Random(17)
    nprng = np.random.default_rng(3)
    img = (nprng.random((21, 64)) < 0.3).astype(np.uint8) * 255
    base = encode_tiff(img, compression="g4")
    for _ in range(200):
        b = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        if rng.random() < 0.3:
            b = b[:rng.randrange(8, len(b))]
        try:
            out = decode_tiff(bytes(b))
            assert isinstance(out, np.ndarray)
        except (ImageError, NotImplementedError):
            pass
