"""Encoder twins of ``kernels/image_codec.py``: PGM, BMP, PNG, JPEG and
TIFF writers that build test inputs for the from-scratch decoders.

The job only decodes, so these live outside the shipped package. Each
writer raises the decoder side's ``ImageError`` on input it cannot encode.
The JPEG writer emits baseline gray or YCbCr at 4:4:4 or 4:2:0 with the
Annex K tables and an optional restart interval, or a progressive scan
script that exercises the progressive decoder. The TIFF writer covers
strips, tiles, planar layouts, palettes, Predictor 2 and every
compression the decoder reads (fax rows come from ``fax_codec`` here).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from advanced_text_extraction_spark.kernels.image_codec import (
    _DCT_C, _PNG_SIG, _TIFF_TYPE_SIZE, _ZIGZAG, ImageError, _canonical_codes)


def encode_pgm(arr: np.ndarray) -> bytes:
    """Binary P5 grayscale encoder (fixture/synth side)."""
    if arr.ndim != 2:
        raise ImageError("encode_pgm wants a 2-D gray array")
    h, w = arr.shape
    return b"P5 %d %d 255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def encode_bmp_gray(arr: np.ndarray) -> bytes:
    """8-bit paletted grayscale BMP encoder (fixture side)."""
    if arr.ndim != 2:
        raise ImageError("encode_bmp_gray wants a 2-D gray array")
    h, w = arr.shape
    row_bytes = (w + 3) & ~3
    pal = b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, :w] = arr[::-1]  # bottom-up
    data_off = 14 + 40 + len(pal)
    size = data_off + row_bytes * h
    file_hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                           row_bytes * h, 2835, 2835, 256, 0)
    return file_hdr + info_hdr + pal + rows.tobytes()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def encode_png_gray(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Grayscale 8-bit PNG encoder (fixture side). ``filter_type`` 0/1/2
    lets tests exercise the unfilter paths."""
    if arr.ndim != 2:
        raise ImageError("encode_png_gray wants a 2-D gray array")
    h, w = arr.shape
    a = arr.astype(np.uint8)
    rows = []
    for y in range(h):
        if filter_type == 0:
            rows.append(bytes([0]) + a[y].tobytes())
        elif filter_type == 1:
            d = np.diff(a[y].astype(np.int16), prepend=0) & 0xFF
            rows.append(bytes([1]) + d.astype(np.uint8).tobytes())
        elif filter_type == 2:
            prev = a[y - 1].astype(np.int16) if y else np.zeros(w, np.int16)
            d = (a[y].astype(np.int16) - prev) & 0xFF
            rows.append(bytes([2]) + d.astype(np.uint8).tobytes())
        else:
            raise ImageError(f"encoder filter {filter_type} unsupported")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _png_chunk(b"IEND", b""))


# Annex K quantization tables (luminance / chrominance), row-major
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
_QUANT_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32, dtype=np.int64)

# Annex K Huffman specs: (bits[1..16] counts, values)
_HUFF_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                 list(range(12)))
_HUFF_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                   list(range(12)))
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])


# -- encoder (fixture/synth side) -------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        while self.nbits:
            self.put(1, 1)  # pad with 1s per T.81 F.1.2.3


def _encode_codes(bits: list[int], vals: list[int]) -> dict[int, tuple]:
    """symbol → (code, length) for the encoder side."""
    return {sym: (code, length)
            for (length, code), sym in _canonical_codes(bits, vals).items()}


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1-100 → table multiplier."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(wr: _BitWriter, zz: np.ndarray, pred: int,
                  dc_tab: dict, ac_tab: dict) -> int:
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, ln = dc_tab[t]
    wr.put(code, ln)
    if t:
        wr.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            wr.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_tab[(run << 4) | s]
        wr.put(code, ln)
        wr.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac_tab[0x00]  # EOB
        wr.put(code, ln)
    return int(zz[0])


def _build_dht(symbols) -> tuple[list[int], list[int]]:
    """Minimal valid canonical table: every used symbol at one fixed
    code length (progressive scans need EOBn symbols the Annex K tables
    lack — libjpeg likewise emits custom tables for progressive). Length
    is the smallest L with len(symbols) < 2^L - 1, keeping the all-ones
    code unused (T.81 C.2)."""
    syms = sorted(set(symbols))
    if not syms:
        syms = [0x00]  # degenerate scan: emit a 1-symbol table
    length = 8
    while len(syms) >= (1 << length) - 1:
        length += 1
    if length > 16:
        raise ImageError("JPEG Huffman table overflow")
    bits = [0] * 16
    bits[length - 1] = len(syms)
    return bits, syms


def _write_tokens(wr: _BitWriter, toks: list[tuple],
                  tab: dict[int, tuple]) -> None:
    for t in toks:
        if t[0] == "s":
            code, ln = tab[t[1]]
            wr.put(code, ln)
        else:
            wr.put(t[1], t[2])


def _ac_first_tokens(blocks2d: np.ndarray, bw: int, bh: int,
                     ss: int, se: int, al: int) -> list[tuple]:
    """Progressive AC first-scan entropy tokens for one component's
    block raster: run/size symbols over the point-transformed band with
    accumulated EOBn runs (T.81 G.1.2.2 / libjpeg encode_mcu_AC_first).
    Tokens: ("s", symbol) / ("b", value, nbits)."""
    toks: list[tuple] = []
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            toks.append(("s", n << 4))
            if n:
                toks.append(("b", eobrun - (1 << n), n))
            eobrun = 0

    for idx in range(bw * bh):
        my, mx = divmod(idx, bw)
        zz = blocks2d[my, mx]
        vals = [int(zz[k]) for k in range(ss, se + 1)]
        mags = [abs(v) >> al for v in vals]
        last = max((i for i, m in enumerate(mags) if m), default=-1)
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        r = 0
        for i in range(last + 1):
            m = mags[i]
            if m == 0:
                r += 1
                continue
            while r > 15:
                toks.append(("s", 0xF0))  # ZRL
                r -= 16
            s = m.bit_length()
            v = m if vals[i] >= 0 else -m
            toks.append(("s", (r << 4) | s))
            toks.append(("b", v if v >= 0 else v + (1 << s) - 1, s))
            r = 0
        if last < se - ss:
            eobrun += 1
    flush_eob()
    return toks


def _ac_refine_tokens(blocks2d: np.ndarray, bw: int, bh: int,
                      ss: int, se: int, al: int) -> list[tuple]:
    """Progressive AC refinement entropy tokens (T.81 G.1.2.3 / libjpeg
    encode_mcu_AC_refine): newly-nonzero coefficients as run/1 symbols
    with a sign bit, correction bits for already-nonzero ones buffered
    behind the next symbol or EOBn run."""
    toks: list[tuple] = []
    eobrun = 0
    pend: list[int] = []  # correction bits riding on the open EOB run

    def flush_eob() -> None:
        nonlocal eobrun, pend
        if eobrun:
            n = eobrun.bit_length() - 1
            toks.append(("s", n << 4))
            if n:
                toks.append(("b", eobrun - (1 << n), n))
            toks.extend(("b", b, 1) for b in pend)
            eobrun = 0
            pend = []

    for idx in range(bw * bh):
        my, mx = divmod(idx, bw)
        zz = blocks2d[my, mx]
        vals = [int(zz[k]) for k in range(ss, se + 1)]
        mags = [abs(v) >> al for v in vals]
        r = 0
        br: list[int] = []  # correction bits since the last symbol
        for i, m in enumerate(mags):
            if m == 0:
                r += 1
                continue
            # ZRLs are emitted at EVERY nonzero coefficient (history or
            # new) BEFORE buffering its correction bit — the decoder
            # reads correction bits in position order during each
            # symbol's advance, so bits must ride the first symbol whose
            # span crosses their position (libjpeg encode_mcu_AC_refine)
            while r > 15:
                flush_eob()
                toks.append(("s", 0xF0))
                r -= 16
                toks.extend(("b", b, 1) for b in br)
                br = []
            if m > 1:  # nonzero history — correction bit, r unaffected
                br.append(m & 1)
                continue
            # newly nonzero (magnitude reaches 1 at this precision)
            flush_eob()
            toks.append(("s", (r << 4) | 1))
            toks.append(("b", 1 if vals[i] >= 0 else 0, 1))
            toks.extend(("b", b, 1) for b in br)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pend.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return toks


def _comp_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Plane (multiple-of-8 dims) → zigzagged quantized blocks
    (by, bx, 64)."""
    h8, w8 = plane.shape[0] // 8, plane.shape[1] // 8
    f = plane.astype(np.float64) - 128.0
    blocks = (f.reshape(h8, 8, w8, 8).transpose(0, 2, 1, 3)
              .reshape(h8 * w8, 8, 8))
    coefs = np.einsum("ux,nxy,vy->nuv", _DCT_C, blocks, _DCT_C)
    zz = coefs.reshape(h8 * w8, 64)[:, _ZIGZAG]
    qz = np.round(zz / q[None, :]).astype(np.int64)
    return qz.reshape(h8, w8, 64)


def _pad_edge(a: np.ndarray, mult: int) -> np.ndarray:
    ph = (-a.shape[0]) % mult
    pw = (-a.shape[1]) % mult
    return np.pad(a, ((0, ph), (0, pw)), mode="edge") if ph or pw else a


def _emit_progressive_scans(out: bytearray, seg, dht, blocks, planes,
                            gray: bool, w: int, h: int, hmax: int,
                            vmax: int, mcus_x: int, mcus_y: int) -> None:
    """The SOF2 scan script: DC first (interleaved, Al=1) → AC first per
    component (band 1..63, Al=1, custom DHT with EOBn symbols) → DC
    refinement (raw bits) → AC refinement per component. Successive
    approximation is fully refined, so decoding reproduces exactly the
    baseline coefficients."""
    nf = 1 if gray else 3
    samps = [(p[2], p[3]) for p in planes]
    dc_tabs = [_encode_codes(*_HUFF_DC_LUMA)] + \
        [_encode_codes(*_HUFF_DC_CHROMA)] * (nf - 1)

    def sos(ids_tabs, ss, se, ah, al):
        p = bytes([len(ids_tabs)])
        for cid, td, ta in ids_tabs:
            p += bytes([cid, (td << 4) | ta])
        seg(0xDA, p + bytes([ss, se, (ah << 4) | al]))

    def mcu_blocks():
        for m in range(mcus_x * mcus_y):
            my, mx = divmod(m, mcus_x)
            for ci in range(nf):
                hs, vs = samps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        yield ci, blocks[ci][my * vs + by, mx * hs + bx]

    def comp_bdims(ci):
        hs, vs = samps[ci]
        comp_w = -((-w * hs) // hmax)  # ceil, T.81 A.1.1
        comp_h = -((-h * vs) // vmax)
        return -(-comp_w // 8), -(-comp_h // 8)

    dht(0, 0, _HUFF_DC_LUMA)
    if not gray:
        dht(0, 1, _HUFF_DC_CHROMA)

    # scan 1: DC first, interleaved, point transform Al=1
    sos([(ci + 1, 0 if ci == 0 else 1, 0) for ci in range(nf)], 0, 0, 0, 1)
    wr = _BitWriter()
    preds = [0] * nf
    for ci, zz in mcu_blocks():
        dc = int(zz[0]) >> 1  # arithmetic shift, as the decoder rebuilds
        diff = dc - preds[ci]
        preds[ci] = dc
        t = _category(diff)
        code, ln = dc_tabs[ci][t]
        wr.put(code, ln)
        if t:
            wr.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    wr.flush()
    out.extend(wr.out)

    def ac_scan(ci: int, tokens_fn, ss: int, se: int,
                ah: int, al: int) -> None:
        bw, bh = comp_bdims(ci)
        toks = tokens_fn(blocks[ci], bw, bh, ss, se, al)
        spec = _build_dht([t[1] for t in toks if t[0] == "s"])
        dht(1, 0, spec)  # redefine AC table 0 for every scan
        sos([(ci + 1, 0, 0)], ss, se, ah, al)
        wr = _BitWriter()
        _write_tokens(wr, toks, _encode_codes(*spec))
        wr.flush()
        out.extend(wr.out)

    # luma AC is split into two spectral bands (libjpeg's default script
    # shape) so ss>1 scans and per-band EOB runs are exercised
    bands = [[(1, 5), (6, 63)]] + [[(1, 63)]] * (nf - 1)
    for ci in range(nf):  # scans 2..: AC first per component
        for ss, se in bands[ci]:
            ac_scan(ci, _ac_first_tokens, ss, se, 0, 1)

    # DC refinement: one raw bit per block, interleaved, no Huffman
    sos([(ci + 1, 0, 0) for ci in range(nf)], 0, 0, 1, 0)
    wr = _BitWriter()
    for _, zz in mcu_blocks():
        wr.put(int(zz[0]) & 1, 1)
    wr.flush()
    out.extend(wr.out)

    for ci in range(nf):  # final scans: AC refinement per component
        for ss, se in bands[ci]:
            ac_scan(ci, _ac_refine_tokens, ss, se, 1, 0)


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                subsample: bool = False,
                restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """JPEG encoder: gray ``(h, w)`` or RGB ``(h, w, 3)``;
    ``subsample=True`` writes 4:2:0 chroma, else 4:4:4; optional DRI
    (baseline only). ``progressive=True`` writes SOF2 with a
    libjpeg-style scan script — DC first (Al=1), per-component AC first
    (1..63, Al=1), DC refinement, per-component AC refinement — so the
    coefficient stream is bit-identical to the baseline encoding after
    all scans (same blocks, successive approximation fully refined)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise ImageError("encode_jpeg wants gray or RGB uint8")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ImageError("encode_jpeg got an empty image")
    gray = arr.shape[2] == 1
    ql = _scale_quant(_QUANT_LUMA, quality)
    qc = _scale_quant(_QUANT_CHROMA, quality)

    if gray:
        y = arr[:, :, 0].astype(np.float64)
        planes = [(_pad_edge(y, 8), ql, 1, 1)]
    else:
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:  # 4:2:0 — box-average chroma
            ype = _pad_edge(y, 16)
            cbp = _pad_edge(cb, 16)
            crp = _pad_edge(cr, 16)
            cbs = cbp.reshape(cbp.shape[0] // 2, 2,
                              cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            crs = crp.reshape(crp.shape[0] // 2, 2,
                              crp.shape[1] // 2, 2).mean(axis=(1, 3))
            planes = [(ype, ql, 2, 2), (cbs, qc, 1, 1), (crs, qc, 1, 1)]
        else:
            planes = [(_pad_edge(y, 8), ql, 1, 1),
                      (_pad_edge(cb, 8), qc, 1, 1),
                      (_pad_edge(cr, 8), qc, 1, 1)]

    blocks = [_comp_blocks(np.clip(np.round(p), 0, 255), q)
              for p, q, _, _ in planes]
    hmax = max(p[2] for p in planes)
    vmax = max(p[3] for p in planes)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    dc_l = _encode_codes(*_HUFF_DC_LUMA)
    ac_l = _encode_codes(*_HUFF_AC_LUMA)
    dc_c = _encode_codes(*_HUFF_DC_CHROMA)
    ac_c = _encode_codes(*_HUFF_AC_CHROMA)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    seg(0xDB, bytes([0x00]) + bytes(int(v) for v in ql))
    if not gray:
        seg(0xDB, bytes([0x01]) + bytes(int(v) for v in qc))
    nf = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nf)
    sof += bytes([1, (planes[0][2] << 4) | planes[0][3], 0])
    if not gray:
        sof += bytes([2, 0x11, 1, 3, 0x11, 1])
    seg(0xC2 if progressive else 0xC0, sof)

    def dht(tc: int, th: int, spec: tuple) -> None:
        bits, vals = spec
        seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    if progressive:
        if restart_interval:
            raise ImageError(
                "progressive encoder does not emit restart markers")
        _emit_progressive_scans(
            out, seg, dht, blocks, planes, gray, w, h,
            hmax, vmax, mcus_x, mcus_y)
        out.extend(b"\xff\xd9")  # EOI
        return bytes(out)

    dht(0, 0, _HUFF_DC_LUMA)
    dht(1, 0, _HUFF_AC_LUMA)
    if not gray:
        dht(0, 1, _HUFF_DC_CHROMA)
        dht(1, 1, _HUFF_AC_CHROMA)
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nf, 1, 0x00])
    if not gray:
        sos += bytes([2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    tabs = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (nf - 1)
    samps = [(p[2], p[3]) for p in planes]
    preds = [0] * nf
    wr = _BitWriter()
    n_mcus = mcus_x * mcus_y
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            wr.flush()
            out.extend(wr.out)
            out.extend(bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)]))
            wr = _BitWriter()
            preds = [0] * nf
        my, mx = divmod(m, mcus_x)
        for ci in range(nf):
            hs, vs = samps[ci]
            for by in range(vs):
                for bx in range(hs):
                    zz = blocks[ci][my * vs + by, mx * hs + bx]
                    preds[ci] = _encode_block(
                        wr, zz, preds[ci], tabs[ci][0], tabs[ci][1])
    wr.flush()
    out.extend(wr.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """Encoder twin of ``_lzw_decode`` — same early-change convention;
    emits ClearCode when the table reaches 4094 so codes never need a
    13th bit. Fixture/round-trip side."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nib = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nib
        acc = (acc << width) | code
        nib += width
        while nib >= 8:
            nib -= 8
            out.append((acc >> nib) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, nbits = 258, 9
    put(CLEAR, nbits)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        put(table[w], nbits)
        if next_code >= 4094:  # table (nearly) full: reset mid-stream
            put(CLEAR, nbits)
            table = {bytes([i]): i for i in range(256)}
            next_code, nbits = 258, 9
        else:
            table[wc] = next_code
            next_code += 1
            # width sync: the decoder's table lags this counter by
            # exactly one entry (it can't complete an entry until the
            # next code arrives), so its early-change bump at
            # len == 2**n - 1 corresponds to next_code == 2**n here
            if next_code == (1 << nbits) and nbits < 12:
                nbits += 1
        w = bytes([ch])
    if w:
        put(table[w], nbits)
    put(EOI, nbits)
    if nib:
        out.append((acc << (8 - nib)) & 0xFF)
    return bytes(out)


def _packbits_encode_row(row: bytes) -> bytes:
    """Per-row PackBits (the spec's recommended strategy: never let a
    run cross a row boundary). Greedy: repeats of ≥2 become repeat runs,
    the rest literal runs of ≤128."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        j = i + 1
        while j < n and j - i < 128 and row[j] == row[i]:
            j += 1
        if j - i >= 2:
            out += bytes([257 - (j - i), row[i]])
            i = j
            continue
        j = i + 1  # literal run: stop at the start of any ≥2-repeat
        while (j < n and j - i < 128
               and not (j + 1 < n and row[j + 1] == row[j])):
            j += 1
        out += bytes([j - i - 1]) + row[i:j]
        i = j
    return bytes(out)


def _tiff_encode_segment(rows: np.ndarray, compression: str,
                         predictor: int, spp: int,
                         byteorder: str) -> bytes:
    """One strip or tile of pixel rows (n, seg_w*spp), uint8 or uint16,
    → compressed wire bytes (predictor applied per row, §14)."""
    if predictor == 2:
        wide = rows.dtype == np.uint16
        a = rows.reshape(rows.shape[0], -1, spp).astype(
            np.int32 if wide else np.int16)
        a[:, 1:] -= a[:, :-1].copy()
        rows = ((a & 0xFFFF).astype(np.dtype(byteorder + "u2")) if wide
                else (a & 0xFF).astype(np.uint8)).reshape(rows.shape)
    elif rows.dtype == np.uint16:
        rows = rows.astype(np.dtype(byteorder + "u2"))
    raw = rows.tobytes()
    if compression in ("g4", "mh", "g3", "g3-2d"):
        # fax convention: photometric 0 (WhiteIsZero) — light pixels
        # (>= 128) are the white runs, dark pixels the ink
        from .fax_codec import g3_encode, g4_encode, mh_encode
        ink = rows < 128
        if compression == "g4":
            return g4_encode(ink)
        if compression == "mh":
            return mh_encode(ink)
        return g3_encode(ink, two_d=compression == "g3-2d")
    if compression == "lzw":
        return _lzw_encode(raw)
    if compression == "packbits":
        wire = (np.ascontiguousarray(rows).view(np.uint8)
                if rows.dtype != np.uint8 else rows)
        return b"".join(_packbits_encode_row(bytes(r)) for r in wire)
    return raw


def encode_tiff(arr: np.ndarray, compression: str = "none",
                predictor: int = 1, byteorder: str = "<",
                rows_per_strip: int | None = None,
                tile: tuple[int, int] | None = None,
                palette: np.ndarray | None = None,
                palette_bits: int = 8,
                planar: bool = False) -> bytes:
    """TIFF 6.0 writer for the fixture/round-trip side: gray ``(h, w)``
    or RGB ``(h, w, 3)``, uint8 (BitsPerSample 8) or uint16 (16),
    chunky; strip-based, or §15 tiled when ``tile=(tw, tl)`` (×16 dims,
    edge tiles padded — light/zero padding, cropped on decode).
    ``compression``: none | lzw | packbits | g4 | mh | g3 | g3-2d
    (fax tiers are bilevel — light pixels become white runs,
    photometric 0; g3-2d writes T4Options bit 0); ``predictor=2`` (lzw
    only) exercises §14 horizontal differencing; both byte orders.
    ``palette`` ((n, 3) uint8) writes photometric 3 with ``arr`` as
    indices at ``palette_bits`` ∈ {4, 8} (strips only). ``planar``
    writes PlanarConfiguration 2: channel-major segment tables, each
    channel an independent single-sample plane."""
    if arr.dtype not in (np.uint8, np.uint16) or arr.ndim not in (2, 3):
        raise ImageError("encode_tiff wants uint8/uint16 (h,w) or (h,w,3)")
    fax = compression in ("g4", "mh", "g3", "g3-2d")
    if compression not in ("none", "lzw", "packbits") and not fax:
        raise ImageError(f"unsupported compression {compression!r}")
    if predictor not in (1, 2) or (predictor == 2 and compression != "lzw"):
        raise ImageError("predictor 2 is defined here for lzw only")
    if fax and (arr.ndim != 2 or arr.dtype != np.uint8):
        raise ImageError("fax tiers are bilevel: encode_tiff wants "
                         "uint8 (h, w)")
    if tile is not None and (tile[0] % 16 or tile[1] % 16
                             or tile[0] <= 0 or tile[1] <= 0):
        raise ImageError("TIFF tile dims must be positive ×16 (§15)")
    if palette is not None and (
            arr.ndim != 2 or arr.dtype != np.uint8 or fax
            or predictor != 1 or tile is not None
            or palette_bits not in (4, 8)
            or len(palette) > (1 << palette_bits)
            or int(arr.max(initial=0)) >= len(palette)):
        raise ImageError("palette wants uint8 (h, w) indices within the "
                         "map, strips, no predictor/fax, bits 4 or 8")
    h, w = arr.shape[:2]
    spp = 1 if arr.ndim == 2 else arr.shape[2]
    sample_bits = 16 if arr.dtype == np.uint16 else 8
    if planar and (spp != 3 or palette is not None or fax):
        raise ImageError("planar wants (h, w, 3) samples, no palette/fax")
    rps = h if rows_per_strip is None else max(1, rows_per_strip)

    def segments_of(img3: np.ndarray) -> list[bytes]:
        """One plane (c=1) or the chunky image (c=spp) → wire segments
        (strips, or tiles when ``tile`` is set)."""
        c = img3.shape[2]
        segs: list[bytes] = []
        if tile is not None:
            tw, tl = tile
            pad_h = (h + tl - 1) // tl * tl
            pad_w = (w + tw - 1) // tw * tw
            full = np.zeros((pad_h, pad_w, c), img3.dtype)
            full[:h, :w] = img3
            for ty in range(0, pad_h, tl):
                for tx in range(0, pad_w, tw):
                    seg = full[ty:ty + tl, tx:tx + tw].reshape(tl, tw * c)
                    segs.append(_tiff_encode_segment(
                        seg, compression, predictor, c, byteorder))
        else:
            f = img3.reshape(img3.shape[0], -1)
            for y0 in range(0, h, rps):
                segs.append(_tiff_encode_segment(
                    f[y0:y0 + rps], compression, predictor, c, byteorder))
        return segs

    if palette is not None and palette_bits == 4:
        idx = np.pad(arr, ((0, 0), (0, w % 2))) if w % 2 else arr
        packed = ((idx[:, ::2] << 4) | idx[:, 1::2]).astype(np.uint8)
        strips = segments_of(packed[:, :, None])
    elif planar:
        # §14 channel-major segment tables: all of R's, then G's, then B's
        strips = [s for c in range(3)
                  for s in segments_of(arr[:, :, c:c + 1])]
    else:
        strips = segments_of(arr.reshape(h, w, spp))

    comp_id = {"none": 1, "lzw": 5, "packbits": 32773, "g4": 4,
               "mh": 2, "g3": 3, "g3-2d": 3}[compression]
    out = bytearray(struct.pack(
        byteorder + "2sHI", b"II" if byteorder == "<" else b"MM", 42, 0))
    strip_offs = []
    for s in strips:
        strip_offs.append(len(out))
        out += s
        if len(out) & 1:  # spec §2: all offsets must be word-aligned
            out += b"\0"

    def entry(tag: int, typ: int, vals: list[int]) -> bytes:
        size = _TIFF_TYPE_SIZE[typ] * len(vals)
        fmt = {3: "H", 4: "I"}[typ]
        packed = b"".join(struct.pack(byteorder + fmt, v) for v in vals)
        if size <= 4:
            return struct.pack(byteorder + "HHI", tag, typ, len(vals)) \
                + packed.ljust(4, b"\0")
        nonlocal extra
        ptr = extra_base + len(extra)
        extra += packed
        return struct.pack(byteorder + "HHII", tag, typ, len(vals), ptr)

    if fax:
        bits_f, photo_f = [1], 0
    elif palette is not None:
        bits_f, photo_f = [palette_bits], 3
    else:
        bits_f, photo_f = [sample_bits] * spp, 2 if spp == 3 else 1
    fields: list[tuple[int, int, list[int]]] = [
        (256, 4, [w]), (257, 4, [h]),
        (258, 3, bits_f), (259, 3, [comp_id]),
        (262, 3, [photo_f]),
        (277, 3, [spp]),
    ]
    if planar:
        fields.append((284, 3, [2]))
    if compression == "g3-2d":
        fields.append((292, 4, [1]))  # T4Options: 2D coding
    if palette is not None:
        ncol = 1 << palette_bits
        cmap = [(int(palette[i][c]) << 8 if i < len(palette) else 0)
                for c in range(3) for i in range(ncol)]
        fields.append((320, 3, cmap))
    if tile is not None:
        fields += [(322, 4, [tile[0]]), (323, 4, [tile[1]]),
                   (324, 4, strip_offs),
                   (325, 4, [len(s) for s in strips])]
    else:
        fields += [(273, 4, strip_offs), (278, 4, [rps]),
                   (279, 4, [len(s) for s in strips])]
    if predictor == 2:
        fields.append((317, 3, [2]))
    ifd_size = 2 + 12 * len(fields) + 4
    extra_base = len(out) + ifd_size
    extra = b""
    ifd = struct.pack(byteorder + "H", len(fields)) + b"".join(
        entry(t, ty, v) for t, ty, v in sorted(fields)) \
        + struct.pack(byteorder + "I", 0)
    out[4:8] = struct.pack(byteorder + "I", len(out))
    out += ifd + extra
    return bytes(out)


def png_gray_bomb(arr: np.ndarray, inflated_bytes: int) -> bytes:
    """A grayscale PNG of ``arr`` whose IDAT inflates to
    ``inflated_bytes``: the scanlines, then zero bytes past what the
    header's dimensions need. The padding is compressed a chunk at a
    time, so the expansion is never held in memory."""
    h, w = arr.shape
    scan = b"".join(b"\0" + row.tobytes() for row in arr.astype(np.uint8))
    comp = zlib.compressobj(9)
    idat = [comp.compress(scan)]
    chunk = bytes(1 << 20)
    left = inflated_bytes - len(scan)
    while left > 0:
        idat.append(comp.compress(chunk[:left]))
        left -= len(chunk)
    idat.append(comp.flush())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", b"".join(idat))
            + _png_chunk(b"IEND", b""))
