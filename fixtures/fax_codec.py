"""Encoder twins of ``kernels/fax_codec.py``: CCITT G4 (T.6), G3 (T.4,
1D and 2D lines) and Modified Huffman row writers that build test inputs
for the from-scratch fax decoders.

Each takes an ``(h, w)`` ink mask (nonzero = black) and returns the coded
bytes, using the decoder side's T.4 run-length tables.
"""

from __future__ import annotations

import numpy as np

from advanced_text_extraction_spark.kernels.fax_codec import (
    _BLACK_CODES, _EXT_MAKEUP, _WHITE_CODES)
from advanced_text_extraction_spark.kernels.image_codec import ImageError


def _changes(row: np.ndarray) -> list[int]:
    d = np.flatnonzero(np.diff(
        np.concatenate(([False], row)).astype(np.int8)))
    return list(d)


def _put_run(bits: list[str], run: int, color: int) -> None:
    table = _BLACK_CODES if color else _WHITE_CODES
    while run >= 64:
        # largest makeup <= run (makeups are multiples of 64)
        mk = min(run - run % 64, 2560)
        bits.append(_EXT_MAKEUP[mk] if mk > 1728 else table[mk])
        run -= mk
    bits.append(table[run])


def _encode_2d_row(bits: list[str], cur_changes: list[int],
                   ref: list[int], w: int) -> None:
    """Emit one 2D-coded (MMR) row's pass/vertical/horizontal modes."""
    cur = cur_changes + [w, w]
    a0, color, ci = -1, 0, 0
    while a0 < w:
        i = 0
        while i < len(ref) and (ref[i] <= a0 or (i & 1) != color):
            i += 1
        b1 = ref[i] if i < len(ref) else w
        b2 = ref[i + 1] if i + 1 < len(ref) else w
        a1 = cur[ci] if ci < len(cur) else w
        if b2 < a1:
            bits.append("0001")  # pass
            a0 = b2
            continue
        if abs(a1 - b1) <= 3:
            v = {0: "1", 1: "011", 2: "000011", 3: "0000011",
                 -1: "010", -2: "000010", -3: "0000010"}[a1 - b1]
            bits.append(v)
            a0, color = a1, 1 - color
            ci += 1
            continue
        a2 = cur[ci + 1] if ci + 1 < len(cur) else w
        bits.append("001")  # horizontal: runs measured from
        _put_run(bits, a1 - (a0 if a0 > 0 else 0), color)  # max(a0, 0)
        _put_run(bits, a2 - a1, 1 - color)
        a0 = a2
        ci += 2


def _encode_1d_row(bits: list[str], cur_changes: list[int],
                   w: int) -> None:
    """Emit one T.4 1D row: alternating white/black runs from pixel 0
    (a black start is a zero-length white run)."""
    prev, color = 0, 0
    for p in cur_changes + [w]:
        _put_run(bits, p - prev, color)
        prev, color = p, 1 - color


def _pack_bits_str(s: str) -> bytes:
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def g4_encode(ink: np.ndarray) -> bytes:
    """Encode a bilevel ink mask ((h, w) bool/uint8, nonzero = black) to
    a T.6 stream with EOFB — the fixture/round-trip twin of
    ``g4_decode``."""
    if ink.ndim != 2:
        raise ImageError("g4_encode wants a (h, w) mask")
    h, w = ink.shape
    mask = ink.astype(bool)
    bits: list[str] = []
    ref = [w, w]
    for y in range(h):
        cur = _changes(mask[y])
        _encode_2d_row(bits, cur, ref, w)
        ref = [p for p in cur if p < w] + [w, w]
    bits.append("000000000001" * 2)  # EOFB
    return _pack_bits_str("".join(bits))


def mh_encode(ink: np.ndarray) -> bytes:
    """Fixture twin of ``mh_decode``: independent 1D rows, each padded
    to a byte boundary (TIFF Compression 2)."""
    if ink.ndim != 2:
        raise ImageError("mh_encode wants a (h, w) mask")
    mask = ink.astype(bool)
    h, w = mask.shape
    rows: list[str] = []
    for y in range(h):
        bits: list[str] = []
        _encode_1d_row(bits, _changes(mask[y]), w)
        s = "".join(bits)
        rows.append(s + "0" * (-len(s) % 8))
    return _pack_bits_str("".join(rows))


def g3_encode(ink: np.ndarray, two_d: bool = False) -> bytes:
    """Fixture twin of ``g3_decode``: EOL before every row; in 2D mode
    the first row is 1D (nothing to reference) and later rows 2D, each
    flagged by the tag bit — the shape a K>1 T.4 writer emits."""
    if ink.ndim != 2:
        raise ImageError("g3_encode wants a (h, w) mask")
    mask = ink.astype(bool)
    h, w = mask.shape
    bits: list[str] = []
    ref = [w, w]
    for y in range(h):
        bits.append("000000000001")  # EOL
        one_d = y == 0 if two_d else True
        if two_d:
            bits.append("1" if one_d else "0")
        cur = _changes(mask[y])
        if one_d:
            _encode_1d_row(bits, cur, w)
        else:
            _encode_2d_row(bits, cur, ref, w)
        ref = [p for p in cur if p < w] + [w, w]
    return _pack_bits_str("".join(bits))
