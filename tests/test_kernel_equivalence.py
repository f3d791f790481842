"""The text hot path's fast formulations equal the plain ones they
replace: zero-width deletion by a compiled class instead of
``str.translate``, horizontal-whitespace collapse that matches only runs
that change, the HTML block collapse as ``" ".join(s.split())`` instead
of a ``\\s+`` substitution, and lang-id's gate that skips the script and
boost scans when the lowered text stays below U+0370, its one union-class
script scan (each hit named by a bisect over the range starts) and its
stopword tally over distinct tokens.

The reference formulations live here, verbatim, and both are driven over
a hazard alphabet: the whitespace and control characters where Python's
``str.strip``/``\\s`` and the kernels' explicit classes disagree, the
zero-width characters, combining marks that NFC composes, emoji, CJK,
Cyrillic and Devanagari markers, and stopwords."""

from __future__ import annotations

import random
import re
import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st

from advanced_text_extraction_spark.kernels import lang
from advanced_text_extraction_spark.kernels.normalize import (
    normalize_inline, normalize_plain)

# --- reference formulations -------------------------------------------

_REF_ZERO_WIDTH = dict.fromkeys((0x200B, 0x200C, 0x200D, 0xFEFF))
_REF_HORIZ_WS_RE = re.compile("[ \t\u00a0]+")
_REF_SPACE_AROUND_NL_RE = re.compile(r" *\n *")
_REF_MANY_NL_RE = re.compile(r"\n{3,}")
_REF_INLINE_WS_RE = re.compile(r"\s+", re.UNICODE)


def ref_normalize_plain(s: str) -> str:
    s = unicodedata.normalize("NFC", s)
    s = s.translate(_REF_ZERO_WIDTH)
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = _REF_HORIZ_WS_RE.sub(" ", s)
    s = _REF_SPACE_AROUND_NL_RE.sub("\n", s)
    s = _REF_MANY_NL_RE.sub("\n\n", s)
    return s.strip()


def ref_normalize_inline(s: str) -> str:
    s = unicodedata.normalize("NFC", s)
    s = s.translate(_REF_ZERO_WIDTH)
    return _REF_INLINE_WS_RE.sub(" ", s).strip()


_REF_SCRIPT_RES = {
    code: re.compile(
        "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges) + "]")
    for code, ranges in lang.SCRIPTS.items()
}


def ref_detect_language(text: str) -> str:
    if not text:
        return "unknown"
    lowered = text.lower()
    scores: dict[str, int] = {}
    if not lowered.isascii():
        for code, rx in _REF_SCRIPT_RES.items():
            scores[code] = len(rx.findall(text))
        for code, rx in lang._BOOST_RES.items():
            scores[code] = len(rx.findall(lowered))
        for code, (base, _) in lang.BOOSTS.items():
            if scores.get(code, 0) >= lang._MIN_HITS:
                scores[code] += scores.get(base, 0)
    for tok in lang._TOKEN_RE.findall(lowered):
        for code in lang._STOP_LANGS.get(tok, ()):
            scores[code] = scores.get(code, 0) + 1
    best_lang, best_hits = "unknown", 0
    for code in sorted(scores):
        if scores[code] > best_hits:
            best_lang, best_hits = code, scores[code]
    return best_lang if best_hits >= lang._MIN_HITS else "unknown"


# --- the hazard alphabet ----------------------------------------------

_HAZARDS = [
    " ", "  ", "\t", "\n", "\r", "\r\n", "\u00a0", "\u3000", "\x85",
    "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f", "\u2028", "\u2029",
    "\u2000", "\u2005", "\u2009", "\u200a", "\u205f", "\u1680",
    "\u200b", "\u200c", "\u200d", "\ufeff",                # zero-width
    "e\u0301", "A\u030a", "\u0301", "\u0308",               # combining
    "\u212b", "\u212a", "\u0130",             # Angstrom, Kelvin, dotted I
    "\U0001f600", "\U0001f469\u200d\U0001f4bb", "\u2764\ufe0f",
    "日本", "語", "の", "カタ", "한국",
    "ъ", "і", "ї", "ът", "защото", "Привет", "ѓ", "Σ", "ΑΒΓ", "ς",
    "आहे", "और", "छन्", "हिन्दी", "پ", "ے", "عربي",
    "é", "ß", "ø", "ñ", "được", "ä",
]
_STOPWORDS = sorted({w for ws in lang.STOPWORDS.values() for w in ws})
_PIECES = _HAZARDS + _STOPWORDS + ["word", "Data", "x", ".", ",", "<", "-"]
_TEXT = st.lists(st.sampled_from(_PIECES), max_size=40).map("".join)


@settings(max_examples=600, deadline=None)
@given(_TEXT)
def test_normalize_equals_reference(s):
    assert normalize_plain(s) == ref_normalize_plain(s)
    assert normalize_inline(s) == ref_normalize_inline(s)


@settings(max_examples=600, deadline=None)
@given(_TEXT)
def test_detect_language_equals_reference(s):
    assert lang.detect_language(s) == ref_detect_language(s)


# every script range's ends and middle, in both cases where one exists,
# and the boost markers: strings that mix several scripts
_SCRIPT_CHARS = sorted({
    c for lo, hi in (r for ranges in lang.SCRIPTS.values() for r in ranges)
    for cp in (lo, (lo + hi) // 2, hi)
    for c in (chr(cp), chr(cp).upper(), chr(cp).lower()) if len(c) == 1
} | set(re.sub(r"[\[\]|]", "", "".join(
    p for _, p in lang.BOOSTS.values() if p is not None))))
_MIXED = _SCRIPT_CHARS + _STOPWORDS + _HAZARDS + [" "] * 20


def test_bulk_random_strings_equal_reference():
    """A seeded sweep wider than hypothesis' budget: piece-built strings,
    mixed-script strings, and raw code points from the BMP's script
    blocks."""
    rng = random.Random(8)
    for i in range(30_000):
        if i % 3 == 1:
            s = "".join(rng.choice(_PIECES)
                        for _ in range(rng.randrange(0, 60)))
        elif i % 3 == 2:
            s = "".join(rng.choice(_MIXED)
                        for _ in range(rng.randrange(0, 80)))
        else:
            s = "".join(chr(rng.choice((rng.randrange(0x20, 0x3000),
                                        rng.randrange(0x3000, 0xD800))))
                        for _ in range(rng.randrange(0, 40)))
        assert normalize_plain(s) == ref_normalize_plain(s), repr(s)
        assert normalize_inline(s) == ref_normalize_inline(s), repr(s)
        assert lang.detect_language(s) == ref_detect_language(s), repr(s)


def test_normalize_inline_over_whitespace_runs():
    """``normalize_inline`` joins ``str.split()``'s words where the
    reference collapses ``\\s+`` runs: equal on strings made of words and
    of every character either side could read as white space."""
    pieces = ["a", "bc", "é", "\u0301", "\u200b", "\ufeff", "\u200d", " ",
              "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e",
              "\x1f", "\x85", "\xa0", "\u3000", "\u180e", "\u2028",
              "\u2029", "\u202f", "\u205f"] + [
                  chr(c) for c in range(0x2000, 0x200B)]
    rng = random.Random(9)
    for _ in range(40_000):
        s = "".join(rng.choice(pieces) for _ in range(rng.randrange(12)))
        assert normalize_inline(s) == ref_normalize_inline(s), repr(s)


def test_script_ranges_are_disjoint():
    """detect_language names a script hit by a bisect over the range
    starts, which is exact only if no two ranges overlap."""
    ranges = sorted(r for rs in lang.SCRIPTS.values() for r in rs)
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, (hex(hi), hex(lo))


def test_no_script_character_lowercases_below_the_gate():
    """The lang-id gate tests the LOWERED text while the script counts
    read the original: it is exact only if no character inside a script
    range lowercases to characters all below U+0370."""
    for lo, hi in (r for ranges in lang.SCRIPTS.values() for r in ranges):
        for cp in range(lo, hi + 1):
            assert max(chr(cp).lower()) >= "\u0370", hex(cp)
    for pattern in (p for _, p in lang.BOOSTS.values() if p is not None):
        assert min(re.sub(r"[\[\]|]", "", pattern)) >= "\u0370", pattern
