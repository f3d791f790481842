"""Raster image codecs in pure numpy (no cv2/PIL in this sandbox).

Reference analog: ``cv2.imread`` / ``cv2.imdecode`` at
/root/reference/text_extractor.py:887-903 (image OCR source S9) and the
page-render decode at :585-595 (PDF OCR source S5). The reference leans on
OpenCV for all raster I/O; this module implements the uncompressed
container formats from scratch so the OCR tier is *real* end-to-end in a
container without imaging libraries:

- PGM/PPM (P2/P5/P3/P6, the netpbm family) — text and binary variants
- BMP (BITMAPINFOHEADER; 8-bit paletted and 24-bit BGR, bottom-up or
  top-down rows, 4-byte row padding)
- PNG (baseline: stdlib zlib inflate + numpy scanline unfiltering; color
  types 0/2/3/4/6 at bit depth 8, filters 0-4)
- JPEG (baseline sequential and progressive DCT per ITU-T T.81, one
  scan routine for both: Huffman entropy decode, dequantize/dezigzag,
  vectorized 8x8 IDCT, chroma upsampling, YCbCr→RGB; 4:4:4/4:2:2/4:2:0,
  restart markers)
- TIFF 6.0 (strips AND §15 tiles through one assembler, both byte
  orders: Compression none/
  LZW/PackBits and the whole CCITT fax family — G4/T.6, G3/T.4 1D+2D,
  Modified Huffman (kernels/fax_codec.py) — Predictor 2, 1-bit bilevel
  + 8/16-bit gray/RGB, 4/8-bit ColorMap palettes, planar or
  chunky, WhiteIsZero; TIFF-JPEG routes to the real-codec hook)
- raw gray buffers (width*height bytes — the shape of a FlateDecoded
  /DeviceGray PDF image XObject)
- the repo's FIMG fake container (multimodal/media.py) for synth tables

Non-baseline JPEG variants (arithmetic/12-bit/hierarchical), TIFF-JPEG
and lossy WebP route to ``_decode_real``, the one import-guarded cv2
hook. The job only decodes: the encoder twins that build test inputs
live in ``fixtures/image_codec.py``.

All decoders return ``np.ndarray`` of dtype uint8 — ``(h, w)`` grayscale
or ``(h, w, 3)`` RGB — matching what the preprocessing kernel consumes.
PNG, JPEG and TIFF headers share one pixel cap (``_check_dims``), and
JPEG, TIFF LZW and the fax codes one MSB-first ``_BitReader``.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np


class ImageError(ValueError):
    """Malformed raster payload; caller maps to status='error'."""


def _check_dims(w: int, h: int, what: str) -> None:
    """The one pixel cap of every header-sized decode (PNG, JPEG, TIFF
    and its tiles): a corrupt header's multi-gigapixel claim becomes a
    typed error instead of an executor OOM."""
    if w <= 0 or h <= 0 or w * h > (1 << 28):
        raise ImageError(f"bad {what} dimensions {w}x{h}")


def _gray_if_equal(px: np.ndarray) -> np.ndarray:
    """``(h, w, 3)`` → ``(h, w)`` when all three channels agree (a gray
    image stored as color), else the color array; both contiguous."""
    if (px[..., 0] == px[..., 1]).all() and (px[..., 1] == px[..., 2]).all():
        return np.ascontiguousarray(px[..., 0])
    return np.ascontiguousarray(px)


class _BitReader:
    """MSB-first bit reader over bytes: JPEG entropy segments, TIFF LZW
    codes and the CCITT fax codes all read through it."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def bit(self) -> int:
        pos = self.pos
        if pos >= self.nbits:
            raise ImageError("bit stream exhausted")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1

    def take(self, n: int) -> int:
        """The next ``n`` bits as an unsigned int (0 for ``n == 0``)."""
        pos, end = self.pos, self.pos + n
        if end > self.nbits:
            raise ImageError("bit stream exhausted")
        self.pos = end
        chunk = int.from_bytes(self.data[pos >> 3:(end + 7) >> 3], "big")
        return (chunk >> (-end & 7)) & ((1 << n) - 1)

    def huff(self, table: dict):
        """One symbol of a prefix code given as ``(length, code) →
        symbol`` (``_canonical_codes``' shape), codes up to 16 bits."""
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ImageError("invalid Huffman code")


# ---------------------------------------------------------------------------
# netpbm (PGM/PPM)
# ---------------------------------------------------------------------------

# no ^ anchor: matched with pattern.match(buf, i), which anchors at i
# WITHOUT slicing — buf[i:] per token made ASCII decode O(n^2)
_PNM_WS = re.compile(rb"(?:\s+|#[^\n]*\n)+")


def _pnm_tokens(buf: bytes, start: int, count: int) -> tuple[list[int], int]:
    """Read `count` whitespace/comment-separated ASCII ints from buf."""
    out: list[int] = []
    i = start
    while len(out) < count:
        m = _PNM_WS.match(buf, i)
        if m:
            i = m.end()
        j = i
        while j < len(buf) and buf[j : j + 1].isdigit():
            j += 1
        if j == i:
            raise ImageError("bad netpbm header")
        out.append(int(buf[i:j]))
        i = j
    return out, i


def decode_pnm(buf: bytes) -> np.ndarray:
    magic = buf[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ImageError(f"not a PGM/PPM payload: {magic!r}")
    nchan = 3 if magic in (b"P3", b"P6") else 1
    (w, h, maxval), i = _pnm_tokens(buf, 2, 3)
    if maxval <= 0 or maxval > 255:
        raise ImageError(f"unsupported netpbm maxval {maxval}")
    if w <= 0 or h <= 0:
        raise ImageError(f"bad netpbm dimensions {w}x{h}")
    n = w * h * nchan
    if magic in (b"P5", b"P6"):
        i += 1  # single whitespace byte after maxval
        if len(buf) - i < n:
            # np.frombuffer would raise a bare ValueError — keep the
            # typed-error contract for truncated payloads
            raise ImageError("truncated netpbm pixel data")
        px = np.frombuffer(buf, dtype=np.uint8, count=n, offset=i)
    else:
        vals, _ = _pnm_tokens(buf, i, n)
        if vals and max(vals) > maxval:
            # np.asarray(uint8) silently wraps on numpy 1.x and raises a
            # bare OverflowError on 2.x — keep the typed-error contract
            raise ImageError(
                f"netpbm sample {max(vals)} exceeds maxval {maxval}")
        px = np.asarray(vals, dtype=np.uint8)
    if maxval != 255:
        px = (px.astype(np.uint16) * 255 // maxval).astype(np.uint8)
    arr = px.reshape((h, w) if nchan == 1 else (h, w, 3))
    return arr


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER only — the variant every writer emits)
# ---------------------------------------------------------------------------

def _bounded_read(buf: bytes, count: int, offset: int,
                  what: str) -> np.ndarray:
    """np.frombuffer with the codec's typed-error contract: a count or
    offset that a corrupt header pushes past the buffer must raise
    ImageError, not numpy's bare ValueError."""
    if count < 0 or offset < 0 or len(buf) - offset < count:
        raise ImageError(f"truncated BMP {what}")
    return np.frombuffer(buf, dtype=np.uint8, count=count, offset=offset)


def decode_bmp(buf: bytes) -> np.ndarray:
    if buf[:2] != b"BM":
        raise ImageError("not a BMP payload")
    if len(buf) < 54:
        raise ImageError("truncated BMP header")
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size = struct.unpack_from("<I", buf, 14)[0]
    if hdr_size < 40:
        raise ImageError(f"unsupported BMP header size {hdr_size}")
    w, h_signed = struct.unpack_from("<ii", buf, 18)
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    compression = struct.unpack_from("<I", buf, 30)[0]
    if compression != 0:
        raise ImageError(f"compressed BMP (type {compression}) unsupported")
    top_down = h_signed < 0
    h = abs(h_signed)
    if w <= 0 or h == 0:
        raise ImageError(f"bad BMP dimensions {w}x{h}")
    row_bytes = (w * bpp // 8 + 3) & ~3
    if bpp == 8:
        # palette: 4-byte BGRA entries right after the info header
        pal_off = 14 + hdr_size
        n_colors = struct.unpack_from("<I", buf, 46)[0] or 256
        pal = _bounded_read(buf, n_colors * 4, pal_off,
                            "palette").reshape(n_colors, 4)
        idx = _bounded_read(buf, row_bytes * h, data_off,
                            "pixel data").reshape(h, row_bytes)[:, :w]
        if n_colors < 256 and int(idx.max(initial=0)) >= n_colors:
            raise ImageError("BMP palette index out of range")
        bgr = pal[idx][:, :, :3]
    elif bpp == 24:
        raw = _bounded_read(buf, row_bytes * h, data_off,
                            "pixel data").reshape(h, row_bytes)
        bgr = raw[:, : w * 3].reshape(h, w, 3)
    else:
        raise ImageError(f"unsupported BMP bpp {bpp}")
    if not top_down:
        bgr = bgr[::-1]
    return _gray_if_equal(bgr[..., ::-1])


# ---------------------------------------------------------------------------
# raw gray (PDF /DeviceGray image XObject after FlateDecode)
# ---------------------------------------------------------------------------

def decode_raw_gray(buf: bytes, width: int, height: int) -> np.ndarray:
    if len(buf) < width * height:
        raise ImageError(
            f"raw gray buffer too short: {len(buf)} < {width}x{height}")
    return np.frombuffer(buf, dtype=np.uint8,
                         count=width * height).reshape(height, width)


# ---------------------------------------------------------------------------
# PNG (from scratch: stdlib zlib inflate + numpy scanline unfiltering)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(buf: bytes):
    i = 8
    while i + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, i)
        ctype = buf[i + 4 : i + 8]
        data = buf[i + 8 : i + 8 + length]
        yield ctype, data
        i += 12 + length
        if ctype == b"IEND":
            break


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(buf: bytes) -> np.ndarray:
    """Baseline PNG: bit depth 8, color types 0/2/3/4/6, no interlace.
    Filters 0-2 (none/sub/up) decode vectorized; 3/4 (average/paeth) fall
    back to a per-pixel loop on those scanlines only."""
    if buf[:8] != _PNG_SIG:
        raise ImageError("not a PNG payload")
    w = h = None
    bitdepth = colortype = interlace = 0
    idat = bytearray()
    palette: np.ndarray | None = None
    for ctype, data in _png_chunks(buf):
        if ctype == b"IHDR":
            if len(data) < 13:
                raise ImageError("truncated PNG IHDR")
            w, h, bitdepth, colortype, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data[:13])
        elif ctype == b"PLTE":
            if len(data) % 3:
                raise ImageError("malformed PNG PLTE")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
    if w is None:
        raise ImageError("PNG missing IHDR")
    _check_dims(w, h, "PNG")
    if bitdepth != 8 or interlace != 0:
        raise ImageError(
            f"unsupported PNG (bitdepth {bitdepth}, interlace {interlace})")
    nchan = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colortype)
    if nchan is None:
        raise ImageError(f"unsupported PNG color type {colortype}")
    stride = w * nchan
    need = h * (stride + 1)
    inflater = zlib.decompressobj()
    try:
        # inflate only what the header's dimensions need: trailing
        # expansion (a deflate bomb) is never allocated
        raw = inflater.decompress(bytes(idat), need)
    except zlib.error as exc:
        raise ImageError(f"PNG inflate failed: {exc}") from exc
    if not (inflater.eof or inflater.unconsumed_tail):
        # the input ran out before the stream's end: what zlib.decompress
        # reports for this (input left over is expansion past the pixels)
        raise ImageError("PNG inflate failed: Error -5 while "
                         "decompressing data: incomplete or truncated "
                         "stream")
    if len(raw) < need:
        raise ImageError("truncated PNG pixel data")
    lines = np.frombuffer(raw, dtype=np.uint8,
                          count=need).reshape(h, stride + 1)
    filters = lines[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = nchan
    for y in range(h):
        f = int(filters[y])
        cur = lines[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride,
                                                              dtype=np.int32)
        if f == 0:
            rec = cur
        elif f == 1:  # sub: prefix sum over same-channel strides
            g = cur.reshape(w, bpp)
            rec = np.cumsum(g, axis=0).reshape(stride)
        elif f == 2:  # up
            rec = cur + prev
        elif f in (3, 4):  # average / paeth: sequential in x
            rec = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if f == 3:
                    rec[x] = cur[x] + ((a + b) >> 1)
                else:
                    c = int(out[y - 1, x - bpp]) if (y and x >= bpp) else 0
                    rec[x] = cur[x] + _paeth(a, b, c)
                rec[x] &= 0xFF
        else:
            raise ImageError(f"bad PNG filter {f}")
        out[y] = (rec & 0xFF).astype(np.uint8)
    px = out.reshape(h, w, nchan)
    if colortype == 3:
        if palette is None:
            raise ImageError("paletted PNG missing PLTE")
        if int(px[:, :, 0].max(initial=0)) >= len(palette):
            raise ImageError("PNG palette index out of range")
        px = palette[px[:, :, 0]]
        nchan = 3
    elif colortype == 4:  # gray+alpha -> gray
        px = px[:, :, :1]
        nchan = 1
    elif colortype == 6:  # RGBA -> RGB
        px = px[:, :, :3]
        nchan = 3
    if nchan == 1:
        return np.ascontiguousarray(px[:, :, 0])
    return _gray_if_equal(px)


# ---------------------------------------------------------------------------
# JPEG (baseline sequential and progressive DCT, from scratch — ITU-T T.81)
# ---------------------------------------------------------------------------
# The one compressed format real multimodal corpora are dominated by
# (reference OCRs .jpg natively via cv2.imread,
# /root/reference/text_extractor.py:887-903; ext list :771). Decoder
# handles baseline sequential (SOF0) with 8-bit samples, 1 or 3
# components, any sampling factors 1-2 (4:4:4/4:2:2/4:2:0), restart
# markers, multiple DQT/DHT segments — and progressive (SOF2: spectral
# selection + successive approximation, DC/AC first and refinement
# scans, EOBn runs, per-scan DHT redefinition). Both go through one scan
# routine (``_decode_scan``): a baseline scan is the progressive routine
# run once over the full spectrum 0..63, so only the per-mode header
# checks in ``decode_jpeg`` tell the two apart. Arithmetic / 12-bit /
# hierarchical route to the import-guarded real-codec hook.

class _UnsupportedJpeg(ImageError):
    """Valid JPEG, but beyond the baseline-sequential feature set —
    dispatch falls through to the real-codec hook."""


_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)


def _dct_mat() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C: forward F = C @ f @ C.T,
    inverse f = C.T @ F @ C."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    c[0, :] *= 1 / np.sqrt(2)
    return c


_DCT_C = _dct_mat()


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """(length, code) → symbol for a canonical JPEG Huffman table."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _extend(v: int, t: int) -> int:
    """DIFF/AC value decoding (T.81 F.2.2.1): t-bit magnitude v maps to
    [-2^t+1, -2^(t-1)] ∪ [2^(t-1), 2^t-1]."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_segments(buf: bytes):
    """Yield (marker, payload, extra): for an SOS marker ``extra`` is the
    scan's destuffed entropy segments (split at restart markers) and the
    walk continues at the next marker — multi-scan streams (progressive)
    yield every scan; for all other markers ``extra`` is the next
    offset."""
    if buf[:2] != b"\xff\xd8":
        raise ImageError("not a JPEG payload")
    i = 2
    while i + 2 <= len(buf):
        if buf[i] != 0xFF:
            raise ImageError("JPEG marker sync lost")
        if buf[i + 1] == 0xFF:  # fill byte (T.81 B.1.1.2)
            i += 1
            continue
        marker = buf[i + 1]
        if marker == 0xD9:  # EOI
            return
        if i + 4 > len(buf):
            break
        (length,) = struct.unpack_from(">H", buf, i + 2)
        payload = buf[i + 4:i + 2 + length]
        if marker == 0xDA:  # SOS — entropy data follows
            segs, end = _split_entropy(buf, i + 2 + length)
            yield marker, payload, segs
            i = end
        else:
            yield marker, payload, i + 2 + length
            i += 2 + length
    raise ImageError("truncated JPEG stream")


def _split_entropy(buf: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded segments between restart markers, destuffed
    (FF00 → FF); scan ends at any non-RST marker (normally EOI).
    Returns (segments, end_offset) with end_offset at the 0xFF of the
    terminating marker."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(buf)
    while i < n:
        b = buf[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = buf[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:  # stuffed FF
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or next real marker
            break
    segs.append(bytes(cur))
    return segs, min(i, n)


def _ac_first(reader: "_BitReader", block: np.ndarray, ss: int, se: int,
              al: int, actab: dict, eobrun: int) -> int:
    """Progressive AC first scan, one block (T.81 G.2 / libjpeg
    decode_mcu_AC_first). ``block`` is the zigzag-ordered coefficient
    vector; returns the updated end-of-band run count."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.huff(actab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.take(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ImageError("JPEG AC run overflows band")
        block[k] = _extend(reader.take(s), s) << al
        k += 1
    return eobrun


def _ac_refine(reader: "_BitReader", block: np.ndarray, ss: int, se: int,
               al: int, actab: dict, eobrun: int) -> int:
    """Progressive AC refinement scan, one block (T.81 G.2 / libjpeg
    decode_mcu_AC_refine): correction bits for already-nonzero
    coefficients, ±(1<<al) insertions for newly-nonzero ones."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(k: int) -> None:
        if reader.bit() and (int(block[k]) & p1) == 0:
            block[k] += p1 if block[k] >= 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.huff(actab)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s:
                if s != 1:
                    raise ImageError("bad JPEG AC refinement magnitude")
                val = p1 if reader.bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.take(r)
                break
            # advance over r zero-history coefficients, applying
            # correction bits to nonzero-history ones along the way
            while k <= se:
                if block[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                block[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # end-of-band: corrections only
            if block[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(segs: list[bytes], scan: list[tuple], geom: tuple,
                 ss: int, se: int, ah: int, al: int,
                 restart_interval: int, w: int, h: int) -> None:
    """One scan, baseline or progressive, over the persistent coefficient
    arrays. ``scan`` is [(comp, dctab, actab)]. A block of a scan that
    starts at Ss=0 decodes its DC (first pass or refinement bit); when
    Se>0 its AC band (Ss or 1 through Se) follows, so a baseline scan
    (0..63) is a DC pass and an AC-first pass per block. Interleaved (>1
    component) scans walk MCU order, single-component scans walk that
    component's block raster at its own resolution (no MCU padding —
    T.81 A.2.2)."""
    hmax, vmax, mcus_x, mcus_y = geom
    if len(scan) > 1:
        cols, units = mcus_x, mcus_x * mcus_y
        layout = [(c, dctab, actab, c["v"], c["h"], by, bx)
                  for c, dctab, actab in scan
                  for by in range(c["v"]) for bx in range(c["h"])]
    else:
        c = scan[0][0]
        comp_w = -((-w * c["h"]) // hmax)  # ceil(w*h_i/hmax), T.81 A.1.1
        comp_h = -((-h * c["v"]) // vmax)
        cols = -(-comp_w // 8)
        units = cols * -(-comp_h // 8)
        layout = [(*scan[0], 1, 1, 0, 0)]
    ac_pass = _ac_first if ah == 0 else _ac_refine
    band_start = max(ss, 1)

    reader = _BitReader(segs[0])
    seg_idx = 0
    preds = {t[0]["id"]: 0 for t in scan}
    eobrun = 0
    for m in range(units):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ImageError("JPEG missing restart segment")
            reader = _BitReader(segs[seg_idx])
            preds = {t[0]["id"]: 0 for t in scan}
            eobrun = 0
        my, mx = divmod(m, cols)
        for c, dctab, actab, sv, sh, by, bx in layout:
            block = c["coef"][my * sv + by, mx * sh + bx]
            if ss == 0:
                if ah == 0:
                    t = reader.huff(dctab)
                    if t > 15:  # corrupt table: beyond spec overflows int64
                        raise ImageError("bad JPEG DC category")
                    preds[c["id"]] += _extend(reader.take(t), t)
                    block[0] = preds[c["id"]] << al
                elif reader.bit():
                    block[0] = int(block[0]) | (1 << al)
            if se:
                eobrun = ac_pass(reader, block, band_start, se, al, actab,
                                 eobrun)


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline-sequential AND progressive (SOF2, successive
    approximation + spectral selection) JPEG → gray ``(h, w)`` or RGB
    ``(h, w, 3)``. Raises :class:`_UnsupportedJpeg` for
    arithmetic/12-bit/hierarchical streams (dispatch falls through to
    the real-codec hook)."""
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) → table
    comps: list[dict] = []
    w = h = 0
    progressive = False
    restart_interval = 0
    geom = None
    n_scans = 0

    for marker, payload, extra in _jpeg_segments(buf):
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise _UnsupportedJpeg(
                f"non-baseline JPEG (SOF marker 0x{marker:02x})")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(payload):
                pq, tq = payload[j] >> 4, payload[j] & 0x0F
                if pq != 0:
                    raise _UnsupportedJpeg("16-bit JPEG quant table")
                if j + 65 > len(payload):
                    raise ImageError("truncated JPEG DQT")
                tbl = np.frombuffer(payload, dtype=np.uint8,
                                    count=64, offset=j + 1).astype(np.int64)
                quant[tq] = tbl
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(payload):
                if j + 17 > len(payload):
                    raise ImageError("truncated JPEG DHT")
                tc, th = payload[j] >> 4, payload[j] & 0x0F
                bits = list(payload[j + 1:j + 17])
                nv = sum(bits)
                if j + 17 + nv > len(payload):
                    raise ImageError("truncated JPEG DHT values")
                vals = list(payload[j + 17:j + 17 + nv])
                huff[(tc, th)] = _canonical_codes(bits, vals)
                j += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if comps:
                raise ImageError("duplicate JPEG SOF")
            progressive = marker == 0xC2
            if len(payload) < 6:
                raise ImageError("truncated JPEG SOF")
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if len(payload) < 6 + 3 * nc:
                raise ImageError("truncated JPEG SOF components")
            if prec != 8:
                raise _UnsupportedJpeg(f"{prec}-bit JPEG samples")
            if nc not in (1, 3):
                raise _UnsupportedJpeg(f"{nc}-component JPEG")
            for k in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", payload, 6 + 3 * k)
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F,
                              "tq": tq})
            _check_dims(w, h, "JPEG")
            for c in comps:
                if not (1 <= c["h"] <= 2 and 1 <= c["v"] <= 2):
                    raise _UnsupportedJpeg(
                        f"JPEG sampling {c['h']}x{c['v']} out of the "
                        "1-2 range")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for c in comps:
                c["coef"] = np.zeros(
                    (mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
            geom = (hmax, vmax, mcus_x, mcus_y)
        elif marker == 0xDD:  # DRI
            if len(payload) < 2:
                raise ImageError("truncated JPEG DRI")
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS (one per scan; several if progressive)
            if not payload or len(payload) < 1 + 2 * payload[0] + 3:
                raise ImageError("truncated JPEG SOS")
            if geom is None:
                raise ImageError("JPEG SOS before SOF")
            ns = payload[0]
            scan: list[tuple] = []
            for k in range(ns):
                cs, tt = payload[1 + 2 * k], payload[2 + 2 * k]
                comp = next((c for c in comps if c["id"] == cs), None)
                if comp is None:
                    raise ImageError("JPEG scan references unknown component")
                scan.append((comp, huff.get((0, tt >> 4)),
                             huff.get((1, tt & 0x0F))))
            ss, se, ahal = payload[1 + 2 * ns:1 + 2 * ns + 3]
            ah, al = ahal >> 4, ahal & 0x0F
            n_scans += 1
            if not progressive:  # one full-spectrum scan over all comps
                if n_scans > 1 or len(scan) != len(comps):
                    raise _UnsupportedJpeg("multi-scan sequential JPEG")
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ImageError("bad baseline JPEG scan header")
            elif ss == 0 and se != 0:
                raise ImageError("progressive JPEG scan mixes DC and AC")
            elif ss and len(scan) > 1:
                raise ImageError("progressive JPEG AC scan with >1 component")
            if not ss <= se <= 63:
                raise ImageError("bad JPEG spectral band")
            for _, dctab, actab in scan:
                if (ss == 0 and ah == 0 and dctab is None) \
                        or (se and actab is None):
                    raise ImageError("JPEG scan references missing DHT")
            # extra: the destuffed entropy segments from _jpeg_segments
            _decode_scan(extra, scan, geom, ss, se, ah, al,
                         restart_interval, w, h)

    if n_scans == 0 or not comps:
        raise ImageError("JPEG missing SOF/SOS")
    for c in comps:
        if c["tq"] not in quant:
            raise ImageError("JPEG component references missing DQT")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)

    planes = []
    for c in comps:
        by, bx = c["coef"].shape[:2]
        blocks = np.zeros((by * bx, 8, 8), dtype=np.float64)
        flat = c["coef"].reshape(by * bx, 64) * quant[c["tq"]][None, :]
        blocks.reshape(by * bx, 64)[:, _ZIGZAG] = flat
        spatial = np.einsum("ux,nuv,vy->nxy", _DCT_C, blocks, _DCT_C)
        plane = (spatial.reshape(by, bx, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(by * 8, bx * 8))
        plane = np.clip(np.round(plane) + 128, 0, 255).astype(np.uint8)
        # upsample to full resolution by replication, then crop
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0]
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    return _gray_if_equal(np.clip(np.round(rgb), 0, 255).astype(np.uint8))


# ---------------------------------------------------------------------------
# TIFF 6.0 (bilevel/grayscale/RGB/palette, strips and tiles)
# ---------------------------------------------------------------------------
# The remaining real-world scan container after PNG/JPEG (r3 VERDICT
# stretch #7). Scope: both byte orders, strip organization (any
# RowsPerStrip) AND §15 tile organization (TileWidth/TileLength/
# TileOffsets/TileByteCounts, edge tiles padded, their padding neither
# decoded nor kept) — one assembler: a strip is a full-width tile of
# RowsPerStrip rows whose last one is not padded, and a plane is the
# concatenation of its decoded segments (never preallocated from the
# header's dimensions),
# Compression 1 (none) / 2 (Modified Huffman, byte-aligned T.4 1D
# rows) / 3 (G3/T.4 with EOLs; T4Options bit 0 = 2D lines, fill bits
# tolerated) / 4 (CCITT G4 fax, T.6) — fax family in
# kernels/fax_codec.py — / 5 (LZW, spec §13, early-change code widths)
# / 32773 (PackBits, §9), Predictor 2 horizontal differencing (§14, 8-
# and 16-bit samples), PhotometricInterpretation 0/1/2 and 3 (palette:
# 4-bit nibble-packed or 8-bit indices through a 16-bit ColorMap,
# high-byte fold), 1-bit bilevel + 8-bit and 16-bit (r5, high-byte
# fold to the module's uint8 contract) gray/RGB, PlanarConfiguration 1
# (chunky) and 2 (planar: channel-major segment tables, r5).
# TIFF-JPEG and uncompressed-mode-G3 shapes route to the hook.

_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RAT


def _tiff_ifd(buf: bytes, order: str, off: int) -> dict[int, list[int]]:
    """Parse one IFD into tag -> list of integer values (RATIONALs are
    returned as floor(num/den); none of the tags we read are RATIONAL)."""
    def u16(b, i):
        return struct.unpack(order + "H", b[i:i + 2])[0]

    def u32(b, i):
        return struct.unpack(order + "I", b[i:i + 4])[0]

    if off + 2 > len(buf):
        raise ImageError("TIFF IFD offset out of range")
    n = u16(buf, off)
    tags: dict[int, list[int]] = {}
    for e in range(n):
        p = off + 2 + 12 * e
        if p + 12 > len(buf):
            raise ImageError("truncated TIFF IFD entry")
        tag, typ = u16(buf, p), u16(buf, p + 2)
        count = u32(buf, p + 4)
        size = _TIFF_TYPE_SIZE.get(typ)
        if size is None:
            continue  # unknown type: spec says skip the entry
        total = size * count
        src = p + 8 if total <= 4 else u32(buf, p + 8)
        if src + total > len(buf):
            raise ImageError(f"TIFF tag {tag} data out of range")
        if typ == 3:
            vals = [u16(buf, src + 2 * i) for i in range(count)]
        elif typ == 4:
            vals = [u32(buf, src + 4 * i) for i in range(count)]
        elif typ == 5:
            vals = [u32(buf, src + 8 * i) //
                    max(u32(buf, src + 8 * i + 4), 1) for i in range(count)]
        else:  # BYTE/ASCII
            vals = list(buf[src:src + total])
        tags[tag] = vals
    return tags


def _lzw_decode(data: bytes, need: int) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first bit packing, ClearCode 256,
    EOI 257, 9→12-bit codes with the early-change width bump (the width
    grows when the table length reaches 2**n - 1 — one entry earlier
    than GIF's 2**n; the convention every TIFF/PDF LZW writer uses).
    Stops once ``need`` bytes are out, so expansion past the segment's
    pixels (an LZW bomb) is never built."""
    CLEAR, EOI = 256, 257
    nbits = 9
    reader = _BitReader(data)
    table: list[bytes] = []
    prev = b""
    out = bytearray()
    while reader.pos + nbits <= reader.nbits and len(out) < need:
        code = reader.take(nbits)
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits, prev = 9, b""
            continue
        if not table:
            raise ImageError("LZW stream does not start with ClearCode")
        if not prev:
            if code >= len(table):
                raise ImageError("corrupt LZW stream (first code)")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ImageError("corrupt LZW stream (code gap)")
        out += entry
        prev = entry
        if len(table) == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    return bytes(out)


def _packbits_decode(data: bytes, need: int) -> bytes:
    """PackBits (TIFF spec §9): n in [0,127] copies n+1 literals;
    n in [-127,-1] (two's complement) repeats the next byte 1-n times;
    -128 is a noop. Stops once ``need`` bytes are out."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < need:
        h = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if h == -128:
            continue
        if h >= 0:
            if i + h + 1 > n:
                raise ImageError("truncated PackBits literal run")
            out += data[i:i + h + 1]
            i += h + 1
        else:
            if i >= n:
                raise ImageError("truncated PackBits repeat run")
            out += data[i:i + 1] * (1 - h)
            i += 1
    return bytes(out)


def _undo_predictor2(raw: np.ndarray, spp: int) -> np.ndarray:
    """Horizontal-differencing predictor (spec §14): cumulative sum per
    row per channel, mod 256. raw is (rows, width*spp) uint8."""
    a = raw.reshape(raw.shape[0], -1, spp)
    return np.cumsum(a.astype(np.uint32), axis=1).astype(np.uint8) \
        .reshape(raw.shape)


def _undo_predictor2_16(raw: np.ndarray, spp: int, order: str) -> np.ndarray:
    """§14 horizontal differencing over 16-BIT samples: the difference
    is per sample VALUE (mod 65536) — byte order only affects the wire
    encoding, so decode to native, cumsum, re-encode. raw is
    (rows, width*spp*2) uint8 in wire order."""
    vals = np.ascontiguousarray(raw).view(np.dtype(order + "u2"))
    a = vals.reshape(raw.shape[0], -1, spp)
    acc = np.cumsum(a.astype(np.uint64), axis=1).astype(
        np.dtype(order + "u2"))
    return np.ascontiguousarray(acc).view(np.uint8).reshape(raw.shape)


def _tiff_segment_pixels(raw: bytes, comp: int, seg_w: int, nrows: int,
                         spp: int, bits0: int, pred: int,
                         order: str, t4_2d: bool = False) -> np.ndarray:
    """One strip or tile → (nrows, seg_w, spp) uint8 pixels: decompress,
    undo the predictor (it resets at every segment's left edge, so this
    must happen per segment, not on the assembled image), unpack bits /
    fold 16-bit samples to their high byte (the display convention)."""
    row_bytes = (seg_w * spp * bits0 + 7) // 8
    need = row_bytes * nrows
    if comp in (2, 3, 4):
        # fax family resets its reference/row state per segment; output
        # is the same MSB-packed bilevel shape as an uncompressed one
        from .fax_codec import g3_decode, g4_decode, mh_decode
        if comp == 4:
            raw = g4_decode(raw, seg_w, nrows)
        elif comp == 3:
            raw = g3_decode(raw, seg_w, nrows, two_d=t4_2d)
        else:
            raw = mh_decode(raw, seg_w, nrows)
    elif comp == 5:
        raw = _lzw_decode(raw, need)
    elif comp == 32773:
        raw = _packbits_decode(raw, need)
    if len(raw) < need:
        raise ImageError("TIFF segment shorter than its rows")
    seg = np.frombuffer(raw, np.uint8, count=need).reshape(nrows, row_bytes)
    if pred == 2:
        seg = (_undo_predictor2(seg, spp) if bits0 == 8
               else _undo_predictor2_16(seg, spp, order))
    if bits0 == 1:
        px = np.unpackbits(seg, axis=1)[:, :seg_w]
        px *= 255  # in place: no wider temporary than the pixels
        return px[:, :, None]
    if bits0 == 4:
        # palette nibbles, high nibble first (§4 default fill order)
        inter = np.empty((nrows, seg.shape[1] * 2), np.uint8)
        inter[:, ::2], inter[:, 1::2] = seg >> 4, seg & 0xF
        return inter[:, :seg_w][:, :, None]
    if bits0 == 16:
        vals = np.ascontiguousarray(seg).view(np.dtype(order + "u2"))
        return (vals.reshape(nrows, seg_w, spp) >> 8).astype(np.uint8)
    return seg.reshape(nrows, seg_w, spp)


def decode_tiff(buf: bytes) -> np.ndarray:
    """TIFF 6.0 baseline decoder — first IFD only (the image a scanner
    or exporter puts first; later IFDs are thumbnails/pages).

    Reference analog: ``cv2.imread`` accepts .tif/.tiff uploads at
    /root/reference/text_extractor.py:887-903; this is the from-scratch
    twin for the sandbox (r3 VERDICT stretch #7)."""
    if buf[:4] == b"II*\x00":
        order = "<"
    elif buf[:4] == b"MM\x00*":
        order = ">"
    else:
        raise ImageError(f"not a TIFF payload: {buf[:4]!r}")
    if len(buf) < 8:
        raise ImageError("truncated TIFF header")
    tags = _tiff_ifd(buf, order, struct.unpack(order + "I", buf[4:8])[0])

    def one(tag: int, default=None) -> int:
        # a corrupt entry with count=0 parses to [] — same as absent
        v = tags.get(tag)
        if not v:
            if default is None:
                raise ImageError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    width, height = one(256), one(257)
    _check_dims(width, height, "TIFF")
    comp = one(259, 1)
    photo = one(262, 1)
    spp = one(277, 1)
    bits = tags.get(258, [1])
    pred = one(317, 1)
    tiled = 322 in tags or 323 in tags
    planar = one(284, 1) == 2 and spp == 3
    t4opts = one(292, 0)
    if comp not in (1, 2, 3, 4, 5, 32773) or photo not in (0, 1, 2, 3) \
            or one(284, 1) not in (1, 2) \
            or set(bits) not in ({1}, {4}, {8}, {16}) \
            or spp not in (1, 3) or len(bits) != spp \
            or (spp == 3 and bits[0] not in (8, 16)) \
            or (comp in (2, 3, 4) and (bits != [1] or spp != 1
                                       or one(266, 1) != 1)) \
            or (comp == 3 and t4opts & 2) \
            or (photo == 3 and (spp != 1 or bits[0] not in (4, 8)
                                or comp in (2, 3, 4) or pred != 1
                                or len(tags.get(320, []))
                                != 3 << bits[0])) \
            or (photo != 3 and bits[0] == 4):
        # uncompressed-mode G3 / LSB-fill fax / >16-bit / malformed
        # ColorMap / non-palette 4-bit etc.
        return _decode_real(buf)
    if pred == 2 and bits[0] not in (8, 16):
        raise ImageError("TIFF predictor 2 requires 8/16-bit samples")
    t4_2d = comp == 3 and bool(t4opts & 1)
    # §14 PlanarConfiguration 2: each component's segments form an
    # independent single-channel plane (segment tables are
    # channel-major), so assemble per channel with spp=1 and stack
    spp_eff = 1 if planar else spp

    if tiled:  # §15: tw×tl blocks, edge tiles padded to full size
        tw, tl = one(322), one(323)
        if not tw or not tl or tw % 16 or tl % 16:
            raise ImageError("TIFF tile dims must be positive ×16 (§15)")
        _check_dims(tw, tl, "TIFF tile")
    else:  # a strip is a full-width tile; the last one is not padded
        tw, tl = width, min(max(one(278, height), 1), height)
    across = -(-width // tw)
    down = -(-height // tl)

    def assemble(offsets: list[int], counts: list[int]) -> np.ndarray:
        """All segments of one plane (or the whole chunky image), left
        to right then top down → (height, width, spp_eff) pixels."""
        if len(offsets) < across * down or len(counts) < across * down:
            raise ImageError("TIFF segment table shorter than the grid")
        bands = []
        for ty in range(down):
            # every coding here yields rows in order, so decoding only
            # the rows the image keeps is a valid prefix of the segment
            nrows = min(tl, height - ty * tl)
            segs = []
            for tx in range(across):
                off, cnt = offsets[ty * across + tx], counts[ty * across + tx]
                if off + cnt > len(buf):
                    raise ImageError("TIFF segment out of range")
                seg = _tiff_segment_pixels(
                    bytes(buf[off:off + cnt]), comp, tw, nrows,
                    spp_eff, bits[0], pred, order, t4_2d)
                # keep only the columns the image keeps, not the padding
                segs.append(np.ascontiguousarray(seg[:, :width - tx * tw]))
            bands.append(np.concatenate(segs, axis=1))
        return np.concatenate(bands)

    offsets = tags.get(324 if tiled else 273)
    if not offsets:
        raise ImageError("TIFF missing segment offsets")
    counts = tags.get(325 if tiled else 279)
    if counts is None:
        if tiled or comp != 1 or len(offsets) != 1:
            raise ImageError("TIFF missing segment byte counts")
        counts = [(width * spp * bits[0] + 7) // 8 * height]
    if planar:
        n = len(offsets) // 3
        if n * 3 != len(offsets) or len(counts) < len(offsets):
            raise ImageError("TIFF planar segment table not ×3")
        arr = np.concatenate(
            [assemble(offsets[c * n:(c + 1) * n],
                      counts[c * n:(c + 1) * n]) for c in range(3)],
            axis=2)
    else:
        arr = assemble(offsets, counts)

    if spp == 1:
        arr = arr[:, :, 0]
    if photo == 3:
        # palette: indices through ColorMap (3×2^bits SHORTs stored
        # R..G..B, 16-bit intensities — fold to the high byte)
        cmap = (np.asarray(tags[320], np.uint16)
                .reshape(3, -1) >> 8).astype(np.uint8)
        if int(arr.max(initial=0)) >= cmap.shape[1]:
            raise ImageError("TIFF palette index out of ColorMap range")
        return np.stack([cmap[c][arr] for c in range(3)], axis=-1)
    if photo == 0:  # WhiteIsZero: min value is white
        arr = 255 - arr
    return arr


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def _decode_real(buf: bytes) -> np.ndarray:  # pragma: no cover - no libs here
    try:
        import cv2
    except ImportError as exc:
        raise NotImplementedError(
            "exotic raster variants (arithmetic/12-bit/hierarchical "
            "JPEG, TIFF-JPEG, lossy VP8) need cv2/PIL, "
            "not installed in this environment — PNG, baseline + "
            "progressive JPEG, strip/tile/planar TIFF (incl. the fax "
            "family, 16-bit, palettes), and VP8L WebP decode from "
            "scratch") from exc
    arr = cv2.imdecode(np.frombuffer(buf, np.uint8), cv2.IMREAD_UNCHANGED)
    if arr is None:
        raise ImageError("cv2.imdecode failed")
    # module contract: decoders return gray or RGB — cv2 hands back
    # BGR/BGRA, which would swap the red/blue luma weights in to_gray
    if arr.ndim == 3 and arr.shape[2] == 4:
        arr = arr[:, :, :3]
    if arr.ndim == 3 and arr.shape[2] == 3:
        arr = arr[:, :, ::-1]
    return arr


def decode_image(buf: bytes) -> np.ndarray:
    """Magic-sniffing decoder over every supported container."""
    if buf[:2] in (b"P2", b"P3", b"P5", b"P6"):
        return decode_pnm(buf)
    if buf[:2] == b"BM":
        return decode_bmp(buf)
    if buf[:4] == b"FIMG":
        if len(buf) < 8:
            # struct.error is not a ValueError subclass — a truncated
            # header must keep the typed-error contract
            raise ImageError("truncated FIMG header")
        w, h = struct.unpack(">HH", buf[4:8])
        return decode_raw_gray(buf[8:], w, h)
    if buf[:8] == _PNG_SIG:
        return decode_png(buf)
    if buf[:3] == b"\xff\xd8\xff":
        try:
            return decode_jpeg(buf)  # baseline + progressive: from scratch
        except _UnsupportedJpeg:
            # progressive/arithmetic/12-bit — the real-codec hook
            return _decode_real(buf)
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(buf)  # strips/tiles; exotic → real hook
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        from .webp_codec import decode_webp
        return decode_webp(buf)  # VP8L from scratch; lossy → real hook
    raise ImageError(f"unrecognized image magic {buf[:4]!r}")
