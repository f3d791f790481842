"""From-scratch OCR engine: bitmap-font rendering + template matching.

Reference analog: ``MultiEngineOCR`` (/root/reference/text_extractor.py:
312-488). The reference wraps three external engines (tesseract :425-437,
easyocr :439-457, paddleocr :459-478) behind a registry with availability
probes (:327-355) and an image-size auto-selector (:403-423). None of
those engines is installable in this sandbox, so the registry's default
slot is filled by a REAL engine built here from first principles:

- a public-domain-style 5x7 fixed-pitch bitmap font (A-Z 0-9 + punctuation)
- ``render_page``: text -> uint8 grayscale page image (the synth/fixture
  side — also what a rasterized "scanned" PDF page embeds)
- ``recognize``: page-level scale estimation (every glyph run votes on
  the scales under which its bbox matches a template's integer dims),
  line segmentation by row projection, glyph segmentation by column-gap
  analysis, bbox-normalized template matching with a dims prior at the
  estimated scale, grid-row resolution of '-' vs '_', per-token
  confidences

Contracts kept from the reference:
- token confidences are 0-100 and only ``conf > 0`` tokens count
  (:431, P5); document confidence = mean positive token conf / 100 (A6)
- region/line confidences mirror the easyocr/paddle per-region means
  (:446-457, :466-478; A7)
- ``select_engine`` reproduces the size heuristics (:403-423)
- engine registry + availability probing (:320-355): pytesseract/easyocr
  remain import-guarded plug-ins; 'template' is always available

Determinism: recognition of a clean ``render_page`` output at any integer
scale is EXACT — glyph cells are area-resampled (measure-preserving box
filter) onto the same 5x7 grid the templates live on, so a clean render
matches its template bit-for-bit and every token scores 100. That property
is what lets the driver's DuckDB oracle check an OCR roundtrip by string
equality (``__spark_entry__.ocr_roundtrip``).
"""

from __future__ import annotations

import numpy as np

from .image_prep import preprocess as _preprocess_chain
from .image_prep import to_gray

# ---------------------------------------------------------------------------
# 5x7 fixed-pitch font ('#' = ink). Fixed metrics: advance 8 (5 glyph cols
# + 3 blank), line stride 10 (7 rows + 3 blank) — the 3-col inter-glyph gap
# keeps glyph segmentation unambiguous vs intra-glyph blank columns (at most
# 1 col wide, e.g. '"') even after adaptive binarization thickens strokes
# by ~1 px per side.
# ---------------------------------------------------------------------------

FONT: dict[str, tuple[str, ...]] = {
    "A": (".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "B": ("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    "C": (".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    "D": ("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    "E": ("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    "F": ("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    "G": (".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".####"),
    "H": ("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "I": (".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "J": ("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    "K": ("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    "L": ("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    "M": ("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    "N": ("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    "O": (".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "P": ("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    "Q": (".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    "R": ("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    "S": (".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    "T": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "U": ("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "V": ("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "W": ("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    "X": ("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    "Y": ("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    "Z": ("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    "0": (".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    "1": ("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "2": (".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    "3": ("#####", "...#.", "..#..", "...#.", "....#", "#...#", ".###."),
    "4": ("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    "5": ("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    "6": ("..##.", ".#...", "#....", "####.", "#...#", "#...#", ".###."),
    "7": ("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    "8": (".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    "9": (".###.", "#...#", "#...#", ".####", "....#", "...#.", ".##.."),
    ".": (".....", ".....", ".....", ".....", ".....", ".##..", ".##.."),
    ",": (".....", ".....", ".....", ".....", ".##..", "..#..", ".#..."),
    ":": (".....", ".##..", ".##..", ".....", ".##..", ".##..", "....."),
    ";": (".....", ".##..", ".##..", ".....", ".##..", "..#..", ".#..."),
    "!": ("..#..", "..#..", "..#..", "..#..", "..#..", ".....", "..#.."),
    "?": (".###.", "#...#", "....#", "...#.", "..#..", ".....", "..#.."),
    "'": ("..#..", "..#..", ".....", ".....", ".....", ".....", "....."),
    '"': (".#.#.", ".#.#.", ".....", ".....", ".....", ".....", "....."),
    "(": ("...#.", "..#..", ".#...", ".#...", ".#...", "..#..", "...#."),
    ")": (".#...", "..#..", "...#.", "...#.", "...#.", "..#..", ".#..."),
    "-": (".....", ".....", ".....", "#####", ".....", ".....", "....."),
    "_": (".....", ".....", ".....", ".....", ".....", ".....", "#####"),
    "+": (".....", "..#..", "..#..", "#####", "..#..", "..#..", "....."),
    "=": (".....", ".....", "#####", ".....", "#####", ".....", "....."),
    "/": ("....#", "...#.", "...#.", "..#..", ".#...", ".#...", "#...."),
    "%": ("##...", "##..#", "...#.", "..#..", ".#...", "#..##", "...##"),
    "#": (".#.#.", ".#.#.", "#####", ".#.#.", "#####", ".#.#.", ".#.#."),
    "&": (".##..", "#..#.", "#.#..", ".#...", "#.#.#", "#..#.", ".##.#"),
    "*": (".....", "..#..", "#.#.#", ".###.", "#.#.#", "..#..", "....."),
    "<": ("...#.", "..#..", ".#...", "#....", ".#...", "..#..", "...#."),
    ">": (".#...", "..#..", "...#.", "....#", "...#.", "..#..", ".#..."),
    "@": (".###.", "#...#", "#.###", "#.#.#", "#.###", "#....", ".####"),
    "$": ("..#..", ".####", "#.#..", ".###.", "..#.#", "####.", "..#.."),
    "[": (".###.", ".#...", ".#...", ".#...", ".#...", ".#...", ".###."),
    "]": (".###.", "...#.", "...#.", "...#.", "...#.", "...#.", ".###."),
}

GLYPH_W, GLYPH_H = 5, 7
ADVANCE, LINE_STRIDE = 8, 10  # cols per char cell, rows per line


def normalize_to_charset(text: str) -> str:
    """Upper-case, map unsupported chars to spaces, collapse runs — the
    canonical pre-render normalization (and the SQL-expressible one the
    DuckDB oracle mirrors)."""
    up = text.upper()
    mapped = "".join(c if c in FONT else " " for c in up)
    return " ".join(mapped.split())


# ---------------------------------------------------------------------------
# rendering (synth / fixture side)
# ---------------------------------------------------------------------------

def _glyph_array(ch: str) -> np.ndarray:
    rows = FONT[ch]
    return np.array([[1 if c == "#" else 0 for c in r] for r in rows],
                    dtype=np.uint8)


def render_page(text: str, scale: int = 3, margin: int = 2,
                ink: int = 0, paper: int = 255) -> np.ndarray:
    """Render normalized text into a uint8 grayscale page image.

    Lines are ``\\n``-separated; characters outside the font render as
    blank cells. Fixed-pitch metrics (ADVANCE x LINE_STRIDE cells, scaled).
    """
    lines = text.split("\n") or [""]
    n_cols = max((len(ln) for ln in lines), default=0)
    h = (len(lines) * LINE_STRIDE + 2 * margin) * scale
    w = (max(n_cols, 1) * ADVANCE + 2 * margin) * scale
    page = np.full((h, w), paper, dtype=np.uint8)
    for li, ln in enumerate(lines):
        y0 = (margin + li * LINE_STRIDE) * scale
        for ci, ch in enumerate(ln):
            if ch not in FONT:
                continue
            x0 = (margin + ci * ADVANCE) * scale
            g = _glyph_array(ch)
            big = np.kron(g, np.ones((scale, scale), dtype=np.uint8))
            cell = page[y0:y0 + GLYPH_H * scale, x0:x0 + GLYPH_W * scale]
            cell[big == 1] = ink
    return page


# ---------------------------------------------------------------------------
# recognition
# ---------------------------------------------------------------------------

def _box_resample(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact area-weighted (box filter) resample to (out_h, out_w) floats.

    Measure-preserving: resampling an integer-factor nearest upscale of a
    template gives bit-identical cell means to resampling the template
    itself — the property behind clean-render exactness."""
    def _axis(a: np.ndarray, out_n: int) -> np.ndarray:
        n = a.shape[0]
        # prefix integral, linearly interpolated at fractional cell edges
        edges = np.linspace(0.0, n, out_n + 1)
        cum = np.vstack([np.zeros((1,) + a.shape[1:]),
                         np.cumsum(a, axis=0, dtype=np.float64)])
        lo = np.floor(edges).astype(int)
        frac = edges - lo
        lo = np.minimum(lo, n)
        vals = cum[lo] + np.where(
            (frac > 0)[:, None] if cum.ndim > 1 else frac > 0,
            (cum[np.minimum(lo + 1, n)] - cum[lo])
            * (frac[:, None] if cum.ndim > 1 else frac), 0.0)
        seg = np.diff(vals, axis=0)
        width = np.diff(edges)
        return seg / (width[:, None] if seg.ndim > 1 else width)

    rows = _axis(arr.astype(np.float64), out_h)
    return _axis(rows.T, out_w).T


_TEMPLATE_CHARS = sorted(FONT)


def _ink_bbox_cell(mask: np.ndarray
                   ) -> tuple[int, int, int, int, np.ndarray] | None:
    """(y0, x0, w, h, 7x5 bbox-resampled bitmap) of an ink mask; offsets
    relative to the mask origin."""
    ys, xs = np.nonzero(mask)
    if ys.size == 0:
        return None
    y0, y1 = int(ys.min()), int(ys.max()) + 1
    x0, x1 = int(xs.min()), int(xs.max()) + 1
    cell = _box_resample(mask[y0:y1, x0:x1].astype(np.float64),
                         GLYPH_H, GLYPH_W)
    return y0, x0, x1 - x0, y1 - y0, cell


# Content-keyed glyph feature cache, shared across pages and documents
# within a (reused) worker process: the box-resample + template-distance
# pair is the dominant OCR cost (~90% of recognize()), and a corpus set
# in one font at one scale repeats the same few dozen ink patterns
# endlessly — every 'E' at scale 3 is byte-identical. Keyed by the
# bbox-cropped bit pattern, so position never aliases. Bounded clear-on-
# overflow like the minhash digest cache (~13 MB at the cap); worst case
# (every glyph unique — heavy noise) degrades to the uncached cost plus
# one dict miss.
_CELL_CACHE: dict[bytes, tuple[np.ndarray, np.ndarray]] = {}
_CELL_CACHE_MAX = 1 << 14


def _cell_and_dist(crop: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(7x5 resampled bitmap, per-template distance vector) of a
    bbox-cropped ink pattern, content-cached."""
    key = (crop.shape[0].to_bytes(2, "big")
           + crop.shape[1].to_bytes(2, "big")
           + np.packbits(crop).tobytes())
    hit = _CELL_CACHE.get(key)
    if hit is None:
        if len(_CELL_CACHE) >= _CELL_CACHE_MAX:
            _CELL_CACHE.clear()
        cell = _box_resample(crop.astype(np.float64), GLYPH_H, GLYPH_W)
        d = np.abs(_T_FEATS - cell.ravel()[None, :]).mean(axis=1)
        hit = (cell, d)
        _CELL_CACHE[key] = hit
    return hit


def _build_templates() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-template (bbox bitmap, bbox dims in cols/rows, top ink row).

    Matching is bbox-normalized (scale-free) + a DIMS prior at the
    estimated page scale; the top row anchors the '-'-vs-'_' grid
    resolution. Band-relative position priors were dropped: a line made
    only of short glyphs ('---', '....') has a band the height of the
    SHORT glyph, so any band-relative position is garbage exactly when
    it is needed most."""
    feats = np.empty((len(_TEMPLATE_CHARS), GLYPH_H * GLYPH_W))
    dims = np.empty((len(_TEMPLATE_CHARS), 2))
    tops = np.empty(len(_TEMPLATE_CHARS))
    for i, ch in enumerate(_TEMPLATE_CHARS):
        y0, _x0, w, h, cell = _ink_bbox_cell(_glyph_array(ch).astype(bool))
        feats[i] = cell.ravel()
        dims[i] = (w, h)
        tops[i] = y0
    return feats, dims, tops


_T_FEATS, _T_DIMS, _T_TOPS = _build_templates()
_DIM_WEIGHT = 0.5      # dims-prior weight (normalized cell units)
_BAR_SET = frozenset("-_")  # identical bbox bitmap AND dims — grid-resolved


def _dims_penalty(w, h, p: float) -> np.ndarray:
    """Dims-prior penalty of an observed bbox (w, h) in px against every
    template at scale p — the ONE formula shared by scale estimation,
    config scoring, and final classification."""
    return _DIM_WEIGHT * (np.abs(w / p - _T_DIMS[..., 0]) / GLYPH_W
                          + np.abs(h / p - _T_DIMS[..., 1]) / GLYPH_H)


def _estimate_scale(dims_px: np.ndarray, dist: np.ndarray) -> float:
    """Estimate the page's render scale (px per font cell unit).

    The old per-band estimate band_h/7 collapses on lines with no tall
    glyph (a '---' band is 1 glyph row high, so every gap threshold and
    position prior came out ~7x too small — the short-glyph-line bug).
    Instead, scale is a PAGE property: every observed glyph bbox
    (w, h) must be ``scale`` times some template's integer bbox dims, so
    each (glyph, template) pairing with consistent w/h ratios proposes a
    candidate scale, and the candidate that maximizes total match score
    (bitmap similarity + dims agreement) wins. For a clean render the
    true scale scores a perfect match on every glyph and is the unique
    argmax; a dots-only page at the naive lower bound would have to read
    '.' as a 5x5 '+' and loses on bitmap distance.

    dims_px: (G, 2) observed glyph-run bbox (w, h) in pixels.
    dist:    (G, T) bbox-bitmap distances vs the template table.
    """
    w = dims_px[:, 0:1].astype(np.float64)
    h = dims_px[:, 1:2].astype(np.float64)
    # Candidate floor from the MEDIAN per-run bound, not the max: a max
    # treats every ink run as a glyph, so one wide non-glyph run (a
    # horizontal rule, an underline bar, a scanner streak — or a tall
    # vertical table border) would raise the floor ~10x and filter out
    # the true scale, destroying the whole page. The median is anchored
    # by the glyph population; oversized artifacts still PROPOSE huge
    # candidates below, but those lose the match-score vote against
    # every real glyph.
    per_run = np.maximum(h / GLYPH_H, w / GLYPH_W)
    floor = 0.5 * float(np.median(per_run))
    lower = float(per_run.max())          # kept only as a candidate
    pw = w / _T_DIMS[None, :, 0]          # (G, T) candidate from width
    ph = h / _T_DIMS[None, :, 1]          # (G, T) candidate from height
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = pw / ph
    ok = (ratio >= 0.6) & (ratio <= 1.6)
    cands = ((pw + ph) * 0.5)[ok]
    cands = cands[cands >= floor]
    cands = np.unique(np.round(np.append(cands, lower), 3))
    # dedupe near-identical candidates (6% clusters) to bound the scan
    keep: list[float] = []
    for c in cands:
        if not keep or c > keep[-1] * 1.06:
            keep.append(float(c))
    best_p, best_s = keep[0], -np.inf
    for p in keep:
        s = float((1.0 - dist - _dims_penalty(w, h, p)).max(axis=1).sum())
        if s > best_s + 1e-9:  # ties keep the smaller (first) candidate
            best_p, best_s = p, s
    return best_p


def _runs(mask: np.ndarray) -> list[tuple[int, int]]:
    """[start, end) runs of True in a 1-D mask."""
    idx = np.flatnonzero(np.diff(np.concatenate(
        [[0], mask.astype(np.int8), [0]])))
    return list(zip(idx[0::2], idx[1::2]))


def recognize(img: np.ndarray, ink_threshold: int = 128) -> dict:
    """Recognize text in a grayscale/binary page image.

    Returns ``{'text', 'tokens', 'token_confs', 'line_confs', 'n_lines'}``
    — token confidences are 0-100 (tesseract dict contract,
    text_extractor.py:431); line confidences are the per-region analog
    (:446-457).

    Pipeline: raw row bands -> page-scale estimate from every glyph run
    (``_estimate_scale``) -> scale-aware band merge -> glyph/word
    segmentation and bitmap+dims template match at that scale -> grid-row
    resolution of the one genuinely ambiguous pair ('-' vs '_', whose
    bbox bitmaps and dims are identical). All thresholds derive from the
    PAGE scale, so separator lines ('---', '====', '....') segment and
    match exactly like full-height text — the old per-band band_h/7
    estimate read '---' as '! ! !' with full confidence."""
    gray = to_gray(img)
    ink = gray < ink_threshold
    tokens: list[str] = []
    token_confs: list[float] = []
    line_confs: list[float] = []
    out_lines: list[str] = []

    raw_bands = _runs(ink.any(axis=1))
    if not raw_bands:
        return {"text": "", "tokens": [], "token_confs": [],
                "line_confs": [], "n_lines": 0}

    # ---- page-scale estimate, iterated with band merging to a fixed
    # point. Scale needs merged bands ('!' raw-splits into a 5-row bar
    # band + a dot band, and a '!'-only page then has no run shaped like
    # any template at the true scale), but merging needs the scale — so:
    # estimate from raw bands, merge, re-estimate from merged bands,
    # repeat until stable (2 passes in practice).
    #
    # Band-merge rule at a known scale: glyph-internal blank rows are
    # <= 2 cells ('!' dot row, '=' bar gap), true line gaps >= 3 cells
    # (LINE_STRIDE 10 - GLYPH_H 7) -> threshold 2.5p splits them. The
    # span cap keeps a residual speck in the line gap from chain-gluing
    # two lines. 12 cells sits between the largest legitimate merge
    # (line 7 + gap 2.5 + speck ~1 ≈ 10.5 cells — the speck must join
    # the nearer line, NOT become a phantom 100-confidence line of its
    # own) and the smallest two-line span (7 + 3 + 7 = 17 cells).
    # Per-glyph features are memoized across all estimation passes: a
    # glyph run is identified by its band rows + column extent, and
    # bands only change for the rare intra-glyph row splits, so every
    # pass after the first is near-free (the naive version recomputed
    # the box-resample up to ~8x per glyph — a measured ~6x slowdown of
    # the whole roundtrip).
    _run_cache: dict[tuple[int, int], list[tuple[int, int]]] = {}
    _feat_cache: dict = {}

    def _band_runs(a: int, b: int) -> list[tuple[int, int]]:
        runs = _run_cache.get((a, b))
        if runs is None:
            runs = _runs(ink[a:b].any(axis=0))
            _run_cache[(a, b)] = runs
        return runs

    def _glyph_feat(a: int, b: int, x0: int, x1: int):
        """(y0_abs, w, h, cell, dist-to-templates) of one glyph run."""
        key = (a, b, x0, x1)
        f = _feat_cache.get(key)
        if f is None:
            sub = ink[a:b, x0:x1]
            ys, xs = np.nonzero(sub)
            if ys.size == 0:
                f = (None,)
            else:
                gy0, gy1 = int(ys.min()), int(ys.max()) + 1
                gx0, gx1 = int(xs.min()), int(xs.max()) + 1
                cell, d = _cell_and_dist(sub[gy0:gy1, gx0:gx1])
                f = (a + gy0, gx1 - gx0, gy1 - gy0, cell, d)
            _feat_cache[key] = f
        return f if f[0] is not None else None

    _est_cache: dict[tuple, float] = {}

    def _est_from(bands: list[tuple[int, int]]) -> float:
        # memoized per band set: on a normal page the raw bands ARE the
        # merged bands, so all seed proposals collapse to one estimate
        key = tuple(bands)
        hit = _est_cache.get(key)
        if hit is not None:
            return hit
        est_dims: list[tuple[int, int]] = []
        est_dist: list[np.ndarray] = []
        for (a, b) in bands:
            for (x0, x1) in _band_runs(a, b):
                f = _glyph_feat(a, b, x0, x1)
                if f is not None:
                    est_dims.append((f[1], f[2]))
                    est_dist.append(f[4])
        p = _estimate_scale(np.asarray(est_dims, dtype=np.float64),
                            np.asarray(est_dist))
        _est_cache[key] = p
        return p

    def _merge_at(p: float, span_cap: bool = True
                  ) -> list[tuple[int, int]]:
        merged = [raw_bands[0]]
        for a, b in raw_bands[1:]:
            if (a - merged[-1][1] <= 2.5 * p
                    and (not span_cap or b - merged[-1][0] <= 12.0 * p)):
                merged[-1] = (merged[-1][0], b)
            else:
                merged.append((a, b))
        return merged

    def _config_score(bands: list[tuple[int, int]], p: float) -> float:
        """Mean per-glyph-run best match score of a (bands, scale)
        hypothesis — the comparator between competing segmentations."""
        scores: list[float] = []
        for (a, b) in bands:
            for (x0, x1) in _band_runs(a, b):
                f = _glyph_feat(a, b, x0, x1)
                if f is None:
                    continue
                _y0, w_px, h_px, _cell, d = f
                scores.append(float(
                    (1.0 - d - _dims_penalty(w_px, h_px, p)).max()))
        return float(np.mean(scores)) if scores else -np.inf
    # Scale and band merging are interdependent: a '!'-only page splits
    # into a bar band + a dot band, and neither half matches '!' at the
    # true scale, so the raw-band estimate undershoots — while at the
    # undershot scale the span cap (rightly, for specks) refuses the
    # reassembling merge. Resolution: propose scales from the raw bands
    # AND from a gap-only (uncapped) merge, build each proposal's final
    # config with the FULL merge rule at its own scale, and keep the
    # config whose glyphs best match the template table. The uncapped
    # merge is only ever a scale proposal — final bands always respect
    # the span cap, so speck protection survives.
    p0 = _est_from(raw_bands)
    seeds = {round(p0, 6)}
    seeds.add(round(_est_from(_merge_at(p0)), 6))
    seeds.add(round(_est_from(_merge_at(p0, span_cap=False)), 6))
    best = -np.inf
    p, line_bands = p0, _merge_at(p0)
    for seed in seeds:
        p_fin = _est_from(_merge_at(seed))
        b_fin = _merge_at(p_fin)
        s = _config_score(b_fin, p_fin)
        if s > best + 1e-9:
            best, p, line_bands = s, p_fin, b_fin

    # ---- per band: segment glyphs/words, match, collect bar glyphs and
    # grid anchors for the '-'/'_' resolution pass
    per_line: list[dict] = []   # chars, confs, words
    bars: list[tuple[int, int]] = []      # (line_idx, glyph_idx)
    anchor_tops: list[float] = []         # grid-top estimates per band
    for (ly0, ly1) in line_bands:
        col_runs = _band_runs(ly0, ly1)
        if not col_runs:
            continue
        # gap < 1.7p merges intra-glyph blank columns (1 cell, shrunk
        # further by the binarize halo; inter-glyph gaps are >= 3 cells)
        glyphs: list[tuple[int, int]] = [col_runs[0]]
        for a, b in col_runs[1:]:
            if a - glyphs[-1][1] < 1.7 * p:
                glyphs[-1] = (glyphs[-1][0], b)
            else:
                glyphs.append((a, b))

        chars: list[str] = []
        confs: list[float] = []
        tops: list[int] = []
        band_anchors: list[float] = []
        li = len(per_line)
        for gi, (gx0, gx1) in enumerate(glyphs):
            f = _glyph_feat(ly0, ly1, gx0, gx1)
            if f is None:      # unreachable: runs are ink by definition
                chars.append(" ")
                confs.append(0.0)
                tops.append(ly0)
                continue
            y0_abs, w_px, h_px, _cell, d = f
            k = int(np.argmax(1.0 - d - _dims_penalty(w_px, h_px, p)))
            ch = _TEMPLATE_CHARS[k]
            chars.append(ch)
            confs.append(float(np.clip((1.0 - d[k]) * 100.0, 0.0, 100.0)))
            tops.append(y0_abs)
            if ch in _BAR_SET:
                bars.append((li, gi))
            elif d[k] < 0.3:
                # confident non-bar glyph anchors the 10-cell line grid
                band_anchors.append(y0_abs - _T_TOPS[k] * p)

        # word grouping: widest intra-word ink gap is 6 cells, the
        # narrowest single-space gap is 11 -> threshold 8p
        words: list[list[int]] = [[0]]
        for i in range(1, len(glyphs)):
            if glyphs[i][0] - glyphs[i - 1][1] >= 8.0 * p:
                words.append([i])
            else:
                words[-1].append(i)
        anchor_tops.append(float(np.median(band_anchors))
                           if band_anchors else np.nan)
        per_line.append({"chars": chars, "confs": confs, "tops": tops,
                         "words": words})

    # ---- resolve '-' vs '_': identical shape, distinguished only by
    # grid row (3 vs 6). Anchor priority: same band -> nearest anchored
    # band (rows differ by exact multiples of LINE_STRIDE, so mod-10
    # arithmetic recovers the row) -> the renderer's equal top/left
    # margin (y0 - page_x0 = (10*i + row)*p for a line whose first glyph
    # inks column 0, true of every bar) -> default '-'.
    if bars:
        anchored = [i for i, t in enumerate(anchor_tops) if not np.isnan(t)]
        page_x0 = int(np.flatnonzero(ink.any(axis=0))[0])
        for (li, gi) in bars:
            y0 = per_line[li]["tops"][gi]
            if not np.isnan(anchor_tops[li]):
                r = (y0 - anchor_tops[li]) / p
            elif anchored:
                j = min(anchored, key=lambda i: abs(i - li))
                r = ((y0 - anchor_tops[j]) / p) % LINE_STRIDE
            else:
                r = ((y0 - page_x0) / p) % LINE_STRIDE
            d3 = min(abs(r - 3), LINE_STRIDE - abs(r - 3))
            d6 = min(abs(r - 6), LINE_STRIDE - abs(r - 6))
            per_line[li]["chars"][gi] = "-" if d3 <= d6 else "_"

    # ---- assemble tokens/lines
    for line in per_line:
        line_tokens = []
        line_token_confs = []
        for w in line["words"]:
            tok = "".join(line["chars"][i] for i in w).strip()
            if not tok:
                continue
            line_tokens.append(tok)
            line_token_confs.append(float(np.mean(
                [line["confs"][i] for i in w])))
        if line_tokens:
            out_lines.append(" ".join(line_tokens))
            tokens.extend(line_tokens)
            token_confs.extend(line_token_confs)
            line_confs.append(float(np.mean(line_token_confs)))

    return {"text": "\n".join(out_lines), "tokens": tokens,
            "token_confs": token_confs, "line_confs": line_confs,
            "n_lines": len(out_lines)}


# ---------------------------------------------------------------------------
# engine registry (reference :315-355) + auto-selection (:403-423)
# ---------------------------------------------------------------------------

def _ocr_template(img: np.ndarray) -> tuple[str, float, list[float]]:
    """The always-available engine. Returns (text, confidence, token_confs)
    with the tesseract aggregation contract: mean of conf>0 tokens / 100
    (text_extractor.py:431-437)."""
    res = recognize(img)
    positive = [c for c in res["token_confs"] if c > 0]  # P5 token filter
    conf = (sum(positive) / len(positive) / 100.0) if positive else 0.0
    return res["text"].strip(), conf, res["token_confs"]


def _init_engines() -> dict:
    engines: dict = {}
    try:  # pragma: no cover - not installed in this sandbox
        import pytesseract  # noqa: F401
        pytesseract.get_tesseract_version()

        def _ocr_tesseract(img: np.ndarray) -> tuple[str, float, list[float]]:
            data = pytesseract.image_to_data(
                img, output_type=pytesseract.Output.DICT)
            confs = [float(c) for c in data["conf"] if float(c) > 0]
            text = pytesseract.image_to_string(img).strip()
            return text, (sum(confs) / len(confs) / 100.0) if confs else 0.0, \
                confs
        engines["tesseract"] = _ocr_tesseract
    except Exception:
        pass
    try:  # pragma: no cover - not installed in this sandbox
        import easyocr
        reader = easyocr.Reader(["en"])

        def _ocr_easyocr(img: np.ndarray) -> tuple[str, float, list[float]]:
            results = reader.readtext(img)
            texts = [t for _b, t, _c in results]
            confs = [float(c) * 100.0 for _b, _t, c in results]
            conf = (sum(confs) / len(confs) / 100.0) if confs else 0.0
            return " ".join(texts), conf, confs
        engines["easyocr"] = _ocr_easyocr
    except Exception:
        pass
    try:  # pragma: no cover - not installed in this sandbox
        from paddleocr import PaddleOCR
        try:  # 2.x ctor kwargs; removed in 3.x
            paddle = PaddleOCR(lang="en", use_angle_cls=False,
                               show_log=False)
        except TypeError:
            paddle = PaddleOCR(lang="en")

        def _ocr_paddle(img: np.ndarray) -> tuple[str, float, list[float]]:
            # reference :466-478: 2.x rows are (bbox, (text, conf)) with
            # conf on 0-1; 3.x predict() yields dict-like OCRResult pages
            # with rec_texts/rec_scores. Region confidences mirror the
            # easyocr contract either way.
            try:
                results = paddle.ocr(img, cls=False) or []
            except TypeError:  # 3.x dropped the cls kwarg
                results = paddle.ocr(img) or []
            texts: list[str] = []
            confs: list[float] = []
            for page in results:
                if page is None:
                    continue
                if hasattr(page, "get") or isinstance(page, dict):  # 3.x
                    texts.extend(page.get("rec_texts") or [])
                    confs.extend(float(c) * 100.0
                                 for c in (page.get("rec_scores") or []))
                else:                                               # 2.x
                    for _box, (t, c) in page:
                        texts.append(t)
                        confs.append(float(c) * 100.0)
            conf = (sum(confs) / len(confs) / 100.0) if confs else 0.0
            return " ".join(texts), conf, confs
        engines["paddleocr"] = _ocr_paddle
    except Exception:
        pass
    engines["template"] = _ocr_template
    return engines


ENGINES = _init_engines()


def select_engine(img: np.ndarray) -> str:
    """Size heuristics from the reference (:403-423): small -> easyocr,
    large+complex -> paddleocr, default tesseract — each falling back to
    the always-available template engine."""
    h, w = img.shape[:2]
    if (h < 100 or w < 100) and "easyocr" in ENGINES:
        return "easyocr"
    if h > 1000 and w > 1000 and "paddleocr" in ENGINES:
        return "paddleocr"
    if "tesseract" in ENGINES:
        return "tesseract"
    return "template"


def ocr_image(img: np.ndarray, engine: str = "auto",
              preprocess: bool = True,
              techniques: tuple[str, ...] | None = None
              ) -> dict:
    """Full OCR of one decoded image (reference extract_text :357-401).

    Returns {'text', 'confidence', 'token_confs', 'engine',
    'preprocessed'} — confidence already on the 0-1 scale."""
    work = _preprocess_chain(img, techniques) if preprocess else to_gray(img)
    name = select_engine(work) if engine == "auto" else engine
    if name not in ENGINES:
        raise ValueError(
            f"Engine '{name}' not available. Available: {sorted(ENGINES)}")
    text, conf, token_confs = ENGINES[name](work)
    return {"text": text, "confidence": conf, "token_confs": token_confs,
            "engine": name, "preprocessed": preprocess}
