"""Unicode / whitespace normalization kernels (SPEC.md §2).

Pure functions; applied per row inside the Arrow extraction kernel
(``operators/extract.py``).
Reference analog: the plain-text source decode+strip path
(/root/reference/text_extractor.py:927-960) plus the north-star mandated
"regex/Unicode normalization for cleanup" stage (SURVEY.md §2.8 F14).
"""

from __future__ import annotations

import re
import unicodedata

# Zero-width characters deleted outright (SPEC.md §2 step 2). A compiled
# class is a C scan; str.translate with a dict table walks every
# character through the slow mapping path (~8x slower per turn).
_ZERO_WIDTH_RE = re.compile("[\u200b\u200c\u200d\ufeff]")

# Horizontal whitespace runs collapse to one space; only runs that change
# are matched, so a lone space between words is not rewritten to itself.
_HORIZ_WS_RE = re.compile("[ \t\u00a0]{2,}|[\t\u00a0]")
_SPACE_AROUND_NL_RE = re.compile(r" *\n *")
_MANY_NL_RE = re.compile(r"\n{3,}")


def normalize_plain(s: str) -> str:
    """Plain-text payload normalization — SPEC.md §2 (NFC + whitespace)."""
    s = unicodedata.normalize("NFC", s)
    s = _ZERO_WIDTH_RE.sub("", s)
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = _HORIZ_WS_RE.sub(" ", s)
    s = _SPACE_AROUND_NL_RE.sub("\n", s)
    s = _MANY_NL_RE.sub("\n\n", s)
    return s.strip()


def normalize_inline(s: str) -> str:
    """Single-block normalization for HTML block text — SPEC.md §3 flush."""
    # str.split() breaks on exactly the characters \s matches, so this is
    # "collapse each \s+ run to one space, then strip" without rewriting
    # every lone space between words to itself
    s = unicodedata.normalize("NFC", s)
    return " ".join(_ZERO_WIDTH_RE.sub("", s).split())
