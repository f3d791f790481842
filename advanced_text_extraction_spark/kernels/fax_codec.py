"""CCITT bilevel fax codecs (ITU-T T.6 and T.4), from scratch — the
fax compressions a real scanned-transcript corpus hits (TIFF 6.0
Compression 4 = G4/T.6, 3 = G3/T.4 with EOLs and optional 2D lines,
2 = Modified Huffman; r4 VERDICT stretch #7, widened r5).

Reference analog: ``cv2.imread`` accepts fax-compressed .tif uploads at
/root/reference/text_extractor.py:887-903; this decodes them without the
real-codec hook.

T.6 is pure 2D (MMR) coding: every row is coded against the reference
row above it (an imaginary all-white row above the first), as a sequence
of pass / vertical / horizontal modes over CHANGING ELEMENTS, with the
T.4 §2 white/black run-length tables for horizontal mode. T.4 1D codes
each row as alternating white/black runs from those same tables (rows
byte-aligned for TIFF Compression 2, EOL-separated for Compression 3);
T.4 2D lines reuse the T.6 mode set against the previous row, flagged
by a tag bit after each EOL. Work per row is proportional to the number
of color changes, not pixels — scanned text is a few dozen changes per
row, so pure Python stays fast.

The decoder emits MSB-first row-packed bits (white=0, black=1) — exactly
the shape of an uncompressed TIFF bilevel strip — so ``decode_tiff``'s
existing unpack/photometric pipeline applies unchanged downstream.
Uncompressed-mode extensions (T6Options bit 1) are not coded by any
mainstream writer and raise ``ImageError``. The encoder twins that build
test inputs live in ``fixtures/fax_codec.py``.
"""

from __future__ import annotations

import numpy as np

from .image_codec import ImageError, _BitReader

# ---------------------------------------------------------------------------
# T.4 §2 run-length code tables (terminating 0-63, makeup 64-1728,
# extended makeup 1792-2560 shared by both colors)
# ---------------------------------------------------------------------------

_WHITE_CODES: dict[int, str] = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

_BLACK_CODES: dict[int, str] = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

_EXT_MAKEUP: dict[int, str] = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}


def _decode_map(codes: dict) -> dict:
    """value → bitstring, inverted into the ``(length, code) → value``
    table ``_BitReader.huff`` reads."""
    return {(len(c), int(c, 2)): v for v, c in codes.items()}


# decode maps: run length per code, per color (extended makeups in
# both); all three tables are verified prefix-free by tests/test_fax.py
_WHITE_DEC = _decode_map({**_WHITE_CODES, **_EXT_MAKEUP})
_BLACK_DEC = _decode_map({**_BLACK_CODES, **_EXT_MAKEUP})

# 2D mode codes (T.6 table 4/T.4 table 4): vertical V0/VR/VL, horizontal,
# pass; the 7-bit extension prefix enters uncompressed mode (rejected).
# Seven zeros are EOFB padding/terminator or garbage (T.6 EOFB = two
# EOLs, 000000000001 twice): with it the set is a complete prefix code,
# so every 7-bit prefix decodes to a mode
_MODES = _decode_map({
    "V0": "1", "VR1": "011", "VR2": "000011", "VR3": "0000011",
    "VL1": "010", "VL2": "000010", "VL3": "0000010",
    "H": "001", "P": "0001", "EXT": "0000001", "EOFB": "0000000",
})
_V_DELTA = {"V0": 0, "VR1": 1, "VR2": 2, "VR3": 3,
            "VL1": -1, "VL2": -2, "VL3": -3}


def _read_run(br: _BitReader, dec: dict) -> int:
    """One run length: zero or more makeup codes then a terminating
    code (T.4 §2.4.1.2 allows chained extended makeups for wide rows)."""
    total = 0
    while True:
        run = br.huff(dec)
        total += run
        if run < 64:  # terminating code ends the run
            return total


def _decode_2d_row(br: _BitReader, ref: list[int],
                   width: int) -> list[int]:
    """One 2D-coded (MMR) row against its reference row → changing
    positions (even index = change to black). Shared by T.6 (every
    row) and T.4 2D lines (TIFF Compression 3, T4Options bit 0)."""
    cur: list[int] = []
    a0, color = -1, 0  # imaginary white pixel before the row
    while a0 < width:
        # b1: first ref change STRICTLY right of a0 changing to
        # !color; change parity gives its color (rows start white,
        # so even-indexed changes flip to black). a0 = -1 at row
        # start makes a reference change at position 0 eligible.
        i = 0
        while i < len(ref) and (ref[i] <= a0 or (i & 1) != color):
            i += 1
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width
        mode = br.huff(_MODES)
        if mode == "EOFB":
            # EOFB/EOL is only legal between rows; inside a row it
            # means the stream is truncated for this geometry
            raise ImageError("fax: stream ended mid-row")
        if mode == "EXT":
            raise ImageError("fax: uncompressed-mode extension "
                             "unsupported")
        if mode == "P":
            a0 = b2  # run of current color extends through b2
            continue
        if mode == "H":
            r1 = _read_run(br, _BLACK_DEC if color else _WHITE_DEC)
            r2 = _read_run(br, _WHITE_DEC if color else _BLACK_DEC)
            a1 = (a0 if a0 > 0 else 0) + r1
            a2 = a1 + r2
            cur.append(min(a1, width))
            cur.append(min(a2, width))
            a0 = a2
            continue
        a1 = b1 + _V_DELTA[mode]
        if a1 < 0 or a1 > width:
            raise ImageError("fax: vertical mode out of row bounds")
        cur.append(a1)
        a0, color = a1, 1 - color
    return cur


def _mh_decode_row(br: _BitReader, width: int) -> list[int]:
    """One Modified-Huffman (T.4 §2, 1D) row → changing positions.
    Rows start white; a row starting black is coded as a zero-length
    white run."""
    cur: list[int] = []
    pos, color = 0, 0
    while pos < width:
        run = _read_run(br, _BLACK_DEC if color else _WHITE_DEC)
        pos += run
        if pos > width:
            raise ImageError("fax: 1D run overruns the row")
        cur.append(pos)
        color ^= 1
    return cur


def _pack_row(cur: list[int], width: int) -> np.ndarray:
    """Changing positions → MSB-packed row bits (black runs between
    even/odd change pairs; an unterminated black run reaches row end)."""
    row = np.zeros(width, np.uint8)
    for j in range(0, len(cur) - 1, 2):
        row[cur[j]:cur[j + 1]] = 1
    if len(cur) % 2 == 1:
        row[cur[-1]:] = 1
    return np.packbits(row)


def g4_decode(data: bytes, width: int, height: int) -> bytes:
    """Decode a T.6-coded strip to MSB-first row-packed bits (white=0,
    black=1), ``(width+7)//8`` bytes per row, ``height`` rows."""
    if width <= 0 or height <= 0:
        raise ImageError("G4: empty image")
    br = _BitReader(data)
    out = np.zeros((height, (width + 7) // 8), np.uint8)
    # reference row as changing positions; even indices change to black
    ref: list[int] = [width, width]
    for y in range(height):
        try:
            cur = _decode_2d_row(br, ref, width)
        except ImageError as exc:
            if "mid-row" in str(exc):
                raise ImageError(f"G4: stream ended at row {y} of "
                                 f"{height}") from None
            raise
        out[y] = _pack_row(cur, width)
        ref = [p for p in cur if p < width] + [width, width]
    return out.tobytes()


def mh_decode(data: bytes, width: int, height: int) -> bytes:
    """TIFF Compression 2 ('Modified Huffman' / CCITT RLE): each row is
    an independent T.4 1D run sequence and starts on a BYTE boundary
    (TIFF 6.0 §10); no EOL codes anywhere."""
    if width <= 0 or height <= 0:
        raise ImageError("fax: empty image")
    br = _BitReader(data)
    out = np.zeros((height, (width + 7) // 8), np.uint8)
    for y in range(height):
        br.pos = (br.pos + 7) & ~7  # rows are byte-aligned
        out[y] = _pack_row(_mh_decode_row(br, width), width)
    return out.tobytes()


def _expect_eol(br: _BitReader) -> None:
    """Consume the T.4 EOL (eleven 0s then a 1), tolerating any number
    of leading fill zeros (T4Options bit 2 writers byte-align with
    fill; a fill-free stream passes the same check)."""
    zeros = 0
    while True:
        if br.bit():
            if zeros >= 11:
                return
            raise ImageError("fax: malformed G3 EOL")
        zeros += 1


def g3_decode(data: bytes, width: int, height: int,
              two_d: bool = False) -> bytes:
    """TIFF Compression 3 (T.4/G3): every row is preceded by an EOL
    (fill-bit tolerant). 1D streams code each row with the §2 run
    tables; with ``two_d`` (T4Options bit 0) a tag bit after each EOL
    says whether the next line is 1D or 2D-coded (the T.6 mode set)
    against the previous line."""
    if width <= 0 or height <= 0:
        raise ImageError("fax: empty image")
    br = _BitReader(data)
    out = np.zeros((height, (width + 7) // 8), np.uint8)
    ref: list[int] = [width, width]
    for y in range(height):
        _expect_eol(br)
        one_d = br.bit() == 1 if two_d else True
        cur = (_mh_decode_row(br, width) if one_d
               else _decode_2d_row(br, ref, width))
        out[y] = _pack_row(cur, width)
        ref = [p for p in cur if p < width] + [width, width]
    return out.tobytes()
