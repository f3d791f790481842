"""Encoder twin of ``kernels/webp_codec.py``: a WebP lossless (VP8L)
writer that builds test inputs for the from-scratch decoder.

No imaging library in the test environment writes WebP. This one emits
spec-legal streams that exercise every decoder path: per-block predictor
modes, uniform color transforms, palettes at every bundling width,
subtract green, run-length LZ77 and the color cache. Its prefix codes are
real frequency-built canonical codes; a balanced-code fallback keeps the
lengths legal.
"""

from __future__ import annotations

import struct

import numpy as np

from advanced_text_extraction_spark.kernels.image_codec import ImageError
from advanced_text_extraction_spark.kernels.webp_codec import (
    _CACHE_MULT, _CL_ORDER, _ct_delta, _palette_width_bits, _predict, _px4,
    _subsample)


class _BitW:
    def __init__(self):
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def write(self, val: int, nbits: int) -> None:
        if val >> nbits:
            raise ImageError(f"VP8L encoder: {val} exceeds {nbits} bits")
        self.acc |= val << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits go out MSB-first (the first bit the reader
        consumes descends from the root)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytes(self.out)
        if self.n:
            out += bytes([self.acc & 0xFF])
        return out


# ---------------------------------------------------------------------------
# encoder twin (fixture side)
# ---------------------------------------------------------------------------

def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Code lengths from frequencies: plain Huffman, falling back to the
    COMPLETE near-balanced code when any length would exceed max_len.
    The fallback must satisfy Kraft equality, not just fit the width —
    a flat ceil(log2(n))-bit code over a non-power-of-two alphabet is
    incomplete and the decoder (ours and libwebp's) rejects it: with
    k = ceil(log2(n)), give the 2**k - n most frequent symbols k-1 bits
    and the rest k, which sums to exactly 1."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = sorted((f, (s,)) for s, f in freqs.items())
    import heapq
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        f1, g1 = heapq.heappop(heap)
        f2, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, g1 + g2))
    if max(depth.values()) > max_len:
        n = len(syms)
        k = (n - 1).bit_length()
        if k > max_len:
            raise ImageError("VP8L encoder: alphabet too large for code")
        n_short = (1 << k) - n
        by_freq = sorted(syms, key=lambda s: (-freqs[s], s))
        return {s: (k - 1 if i < n_short else k)
                for i, s in enumerate(by_freq)}
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """(code, length) per symbol under the canonical assignment the
    decoder expects (sorted by length then symbol). A one-symbol code
    consumes zero bits on the wire — mirror that here or the emitter
    desyncs from the reader by one bit per token."""
    if len(lengths) == 1:
        return {next(iter(lengths)): (0, 0)}
    order = sorted(lengths.items(), key=lambda kv: (kv[1], kv[0]))
    codes = {}
    code = 0
    prev_len = order[0][1]
    for sym, ln in order:
        code <<= ln - prev_len
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


def _prefix_encode_val(v: int) -> tuple[int, int, int]:
    """Inverse of _prefix_val: value → (prefix code, extra value, extra
    bit count)."""
    v -= 1
    if v < 4:
        return v, 0, 0
    k = v.bit_length() - 2
    if v < (3 << k):
        return 2 * k + 2, v - (2 << k), k
    return 2 * k + 3, v - (3 << k), k


def _write_prefix_code(bw: _BitW, lengths: dict[int, int],
                       alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Serialize one prefix code (simple when ≤2 symbols, else the
    code-length-coded normal form) and return the symbol→(code,len) map
    for the data pass."""
    syms = sorted(lengths)
    if len(syms) <= 2 and syms[-1] <= 255:  # simple form stores 8-bit syms
        bw.write(1, 1)                      # simple
        bw.write(len(syms) - 1, 1)          # num_symbols - 1
        first_8 = 1 if syms[0] > 1 else 0
        bw.write(first_8, 1)
        bw.write(syms[0], 8 if first_8 else 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
            return {syms[0]: (0, 1), syms[1]: (1, 1)}
        return {syms[0]: (0, 0)}

    bw.write(0, 1)  # normal form
    # expand to a full-length array, then RLE zeros with 17/18 codes
    arr = [0] * alphabet_size
    for s, ln in lengths.items():
        arr[s] = ln
    tokens: list[tuple[int, int, int]] = []  # (cl_symbol, extra, extra_bits)
    i = 0
    while i < alphabet_size:
        if arr[i] == 0:
            j = i
            while j < alphabet_size and arr[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                chunk = min(run, 138)
                tokens.append((18, chunk - 11, 7))
                run -= chunk
            while run >= 3:
                chunk = min(run, 10)
                tokens.append((17, chunk - 3, 3))
                run -= chunk
            for _ in range(run):
                tokens.append((0, 0, 0))
            i = j
        else:
            tokens.append((arr[i], 0, 0))
            i += 1
    cl_freqs: dict[int, int] = {}
    for t, _, _ in tokens:
        cl_freqs[t] = cl_freqs.get(t, 0) + 1
    cl_lengths = _huffman_lengths(cl_freqs, 7)
    cl_codes = _canonical_codes(cl_lengths)
    # emit all 19 slots of the code-length code (4 + 15)
    bw.write(15, 4)
    for sym in _CL_ORDER:
        bw.write(cl_lengths.get(sym, 0), 3)
    bw.write(0, 1)  # no max-symbol cutoff: the token stream covers all
    for t, extra, ebits in tokens:
        c, ln = cl_codes[t]
        bw.write_code(c, ln)
        if ebits:
            bw.write(extra, ebits)
    return _canonical_codes(lengths)


def _tokenize(pixels: np.ndarray, cache_bits: int,
              rle: bool) -> list[tuple]:
    """Token stream for one entropy-coded image. Tokens:
    ('lit', a, r, g, b) | ('cache', idx) | ('copy', length, dist)."""
    n = len(pixels)
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    toks: list[tuple] = []
    pos = 0
    while pos < n:
        px = int(pixels[pos])
        if rle and pos > 0 and px == int(pixels[pos - 1]):
            run = 1
            while (pos + run < n and run < 4096
                   and int(pixels[pos + run]) == px):
                run += 1
            if run >= 3:
                toks.append(("copy", run, 1))
                if cache_bits:
                    cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> shift] = px
                pos += run
                continue
        if cache_bits:
            slot = (_CACHE_MULT * px & 0xFFFFFFFF) >> shift
            if cache[slot] == px:
                toks.append(("cache", slot))
                pos += 1
                continue
            cache[slot] = px
        toks.append(("lit", (px >> 24) & 0xFF, (px >> 16) & 0xFF,
                     (px >> 8) & 0xFF, px & 0xFF))
        pos += 1
    return toks


def _emit_image_data(bw: _BitW, pixels: np.ndarray, *,
                     cache_bits: int = 0, rle: bool = False,
                     level0: bool = False) -> None:
    """Entropy-coded image body: no meta-prefix groups (single group),
    optional color cache, optional dist-1 RLE backward references.
    Only a level-0 (main) image carries the meta-prefix bit — always 0
    from this writer; sub-images must not write it."""
    toks = _tokenize(pixels, cache_bits, rle)
    freqs: list[dict[int, int]] = [{}, {}, {}, {}, {}]

    def bump(i, s):
        freqs[i][s] = freqs[i].get(s, 0) + 1

    for t in toks:
        if t[0] == "lit":
            bump(0, t[3])
            bump(1, t[2])
            bump(2, t[4])
            bump(3, t[1])
        elif t[0] == "cache":
            bump(0, 280 + t[1])
        else:
            code, _, _ = _prefix_encode_val(t[1])
            bump(0, 256 + code)
            dcode, _, _ = _prefix_encode_val(t[2] + 120)
            bump(4, dcode)
    for i in (1, 2, 3, 4):
        if not freqs[i]:
            freqs[i][0] = 1  # unused alphabet still needs a legal code

    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    sizes = (256 + 24 + cache_size, 256, 256, 256, 40)
    codes = [_write_prefix_code(bw, _huffman_lengths(freqs[i], 15), sizes[i])
             for i in range(5)]

    for t in toks:
        if t[0] == "lit":
            for alpha_i, val in ((0, t[3]), (1, t[2]), (2, t[4]), (3, t[1])):
                c, ln = codes[alpha_i][val]
                bw.write_code(c, ln)
        elif t[0] == "cache":
            c, ln = codes[0][280 + t[1]]
            bw.write_code(c, ln)
        else:
            code, extra, ebits = _prefix_encode_val(t[1])
            c, ln = codes[0][256 + code]
            bw.write_code(c, ln)
            if ebits:
                bw.write(extra, ebits)
            dcode, dextra, debits = _prefix_encode_val(t[2] + 120)
            c, ln = codes[4][dcode]
            bw.write_code(c, ln)
            if debits:
                bw.write(dextra, debits)


def _forward_predictor(argb: np.ndarray, w: int, h: int, size_bits: int,
                       modes: np.ndarray) -> np.ndarray:
    """Residuals such that _inv_predictor reproduces the input — shares
    the _predict helper so both sides agree on border semantics."""
    mode_w = _subsample(w, size_bits)
    px = argb.reshape(h, w)
    res = np.zeros((h, w), np.uint32)
    for y in range(h):
        mrow = modes[(y >> size_bits) * mode_w:]
        for x in range(w):
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = _px4(int(px[0, x - 1]))
            elif x == 0:
                pred = _px4(int(px[y - 1, 0]))
            else:
                mode = int(mrow[x >> size_bits]) & 0xFF
                L = _px4(int(px[y, x - 1]))
                T = _px4(int(px[y - 1, x]))
                TL = _px4(int(px[y - 1, x - 1]))
                TR = (_px4(int(px[y, 0])) if x == w - 1
                      else _px4(int(px[y - 1, x + 1])))
                pred = _predict(mode, L, T, TL, TR)
            cur = _px4(int(px[y, x]))
            res[y, x] = (((cur[0] - pred[0]) & 0xFF) << 24
                         | ((cur[1] - pred[1]) & 0xFF) << 16
                         | ((cur[2] - pred[2]) & 0xFF) << 8
                         | ((cur[3] - pred[3]) & 0xFF))
    return res.reshape(-1)


def _forward_color_transform(argb: np.ndarray, w: int, h: int,
                             size_bits: int,
                             elems: np.ndarray) -> np.ndarray:
    ew = _subsample(w, size_bits)
    out = argb.copy()
    for y in range(h):
        erow = elems[(y >> size_bits) * ew:]
        base = y * w
        for x in range(w):
            e = int(erow[x >> size_bits])
            g2r, g2b, r2b = e & 0xFF, (e >> 8) & 0xFF, (e >> 16) & 0xFF
            v = int(out[base + x])
            green = (v >> 8) & 0xFF
            red = (v >> 16) & 0xFF
            blue = v & 0xFF
            new_blue = (blue - _ct_delta(r2b, red)) & 0xFF
            new_red = (red - _ct_delta(g2r, green)) & 0xFF
            new_blue = (new_blue - _ct_delta(g2b, green)) & 0xFF
            out[base + x] = (v & 0xFF00FF00) | (new_red << 16) | new_blue
    return out


def encode_webp(arr: np.ndarray, *, subtract_green: bool = False,
                predictor=None, predictor_bits: int = 4,
                color_transform: tuple[int, int, int] | None = None,
                palette: bool = False, cache_bits: int = 0,
                rle: bool = False) -> bytes:
    """VP8L writer for the fixture/round-trip side: uint8 gray ``(h,w)``
    or RGB ``(h,w,3)``. ``predictor`` is a single mode (0-13) or a 2D
    per-block mode array at ``predictor_bits`` block granularity;
    ``color_transform`` is one uniform (g2r, g2b, r2b) element triple;
    ``palette=True`` uses color indexing (≤256 distinct colors, packed
    widths below 16 colors); ``rle`` emits distance-1 LZ77 runs;
    ``cache_bits`` enables the color cache."""
    if arr.dtype != np.uint8 or arr.ndim not in (2, 3):
        raise ImageError("encode_webp wants uint8 (h,w) or (h,w,3)")
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w = arr.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ImageError("encode_webp: dims out of the 14-bit range")
    argb = (np.full((h, w), 0xFF000000, np.uint32)
            | (arr[:, :, 0].astype(np.uint32) << 16)
            | (arr[:, :, 1].astype(np.uint32) << 8)
            | arr[:, :, 2].astype(np.uint32)).reshape(-1)

    bw = _BitW()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)   # alpha unused
    bw.write(0, 3)   # version

    cur_w = w
    if palette:
        if subtract_green or predictor is not None or color_transform:
            raise ImageError("encode_webp: palette excludes other "
                             "transforms in this writer")
        colors = np.unique(argb)
        if len(colors) > 256:
            raise ImageError("encode_webp: palette needs ≤256 colors")
        lut = {int(c): i for i, c in enumerate(colors)}
        psize = len(colors)
        bw.write(1, 1)
        bw.write(3, 2)                  # color indexing
        bw.write(psize - 1, 8)
        deltas = np.zeros(psize, np.uint32)
        prev = 0
        for i, c in enumerate(colors):
            c = int(c)
            deltas[i] = ((((c >> 24) - (prev >> 24)) & 0xFF) << 24
                         | ((((c >> 16) & 0xFF) - ((prev >> 16) & 0xFF))
                            & 0xFF) << 16
                         | ((((c >> 8) & 0xFF) - ((prev >> 8) & 0xFF))
                            & 0xFF) << 8
                         | (((c & 0xFF) - (prev & 0xFF)) & 0xFF))
            prev = c
        _emit_image_data(bw, deltas)
        width_bits = _palette_width_bits(psize)
        bpp = 8 >> width_bits
        per = 1 << width_bits
        cur_w = _subsample(w, width_bits)
        packed = np.zeros((h, cur_w), np.uint32)
        flat = argb.reshape(h, w)
        for y in range(h):
            for x in range(w):
                packed[y, x >> width_bits] |= \
                    lut[int(flat[y, x])] << ((x % per) * bpp)
        argb = (0xFF000000 | (packed << 8)).astype(np.uint32).reshape(-1)
    else:
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)
            g = (argb >> 8) & 0xFF
            r = (((argb >> 16) & 0xFF) - g) & 0xFF
            b = ((argb & 0xFF) - g) & 0xFF
            argb = (argb & 0xFF00FF00) | (r << 16) | b
        if color_transform is not None:
            bw.write(1, 1)
            bw.write(1, 2)
            size_bits = 4
            bw.write(size_bits - 2, 3)
            ew, eh = _subsample(cur_w, size_bits), _subsample(h, size_bits)
            g2r, g2b, r2b = (v & 0xFF for v in color_transform)
            elem = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
            elems = np.full(ew * eh, elem, np.uint32)
            _emit_image_data(bw, elems)
            argb = _forward_color_transform(argb, cur_w, h, size_bits, elems)
        if predictor is not None:
            bw.write(1, 1)
            bw.write(0, 2)
            size_bits = predictor_bits
            if not 2 <= size_bits <= 9:
                raise ImageError("encode_webp: predictor_bits in [2,9]")
            bw.write(size_bits - 2, 3)
            mw, mh = _subsample(cur_w, size_bits), _subsample(h, size_bits)
            if isinstance(predictor, int):
                modes = np.full(mw * mh, predictor, np.uint8)
            else:
                modes = np.asarray(predictor, np.uint8).reshape(mw * mh)
            if modes.max() > 13:
                raise ImageError("encode_webp: predictor mode in [0,13]")
            mode_px = (0xFF000000
                       | (modes.astype(np.uint32) << 8)).reshape(-1)
            _emit_image_data(bw, mode_px)
            argb = _forward_predictor(argb, cur_w, h, size_bits, modes)
    bw.write(0, 1)  # end of transforms
    _emit_image_data(bw, argb, cache_bits=cache_bits, rle=rle, level0=True)

    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\0"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
