"""Native (JVM-side, codegen'd) column functions — SURVEY.md §2.8.

Everything here is pure `pyspark.sql.functions` composition: no Python
crosses the executor boundary, so these stay inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_count(col) -> Column:
    """F4 — len(text) (reference /root/reference/cli.py:91). Long-typed:
    at corpus scale these counts aggregate past int32."""
    return F.length(col).cast("long")


def word_count(col) -> Column:
    """F4 — len(text.split()) (reference /root/reference/cli.py:92).
    Counted as \\S+ runs: exactly Python split() semantics — empty/
    whitespace-only → 0, and boundary whitespace adds nothing (the
    earlier size-of-split formulation counted a phantom empty token
    when text started or ended with non-space whitespace, e.g. a
    trailing newline, because trim strips only spaces)."""
    return F.regexp_count(col, F.lit(r"\S+")).cast("long")


def line_count(col) -> Column:
    """F4 — text.count('\\n') + 1 (reference /root/reference/gui.py:1202)."""
    return F.size(F.split(col, "\n", -1)).cast("long")


def preview(col, n: int = 100) -> Column:
    """F5 — text[:n] preview (reference /root/reference/text_extractor.py:1111)."""
    return F.substring(col, 1, n)


def flatten_newlines(col) -> Column:
    """F6 — CSV-safe newline flatten (reference /root/reference/text_extractor.py:1179)."""
    return F.regexp_replace(col, "\n", " ")


def content_type_prefilter(col) -> Column:
    """P1 cheap-path dispatch, fully native (SPEC.md §1 prefix checks):
    routes the obvious rows without entering Python; the authoritative
    sniff runs inside the extraction UDF (kernels/sniff.py)."""
    html_probe = (
        r"(?is)<(!doctype\s+html|html|head|body|div|p|br|h[1-6]|ul|ol|li"
        r"|table|a|span|nav|footer|header|article|section|main)[\s>]"
    )
    t = F.trim(col)
    return (
        F.when(t.startswith("JVBE"), F.lit("pdf"))
        .when(t.startswith("UEsDB"), F.lit("office"))  # base64 PK\x03\x04
        .when(t.rlike(html_probe), F.lit("html"))
        .otherwise(F.lit("text"))
    )
