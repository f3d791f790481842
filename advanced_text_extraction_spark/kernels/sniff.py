"""Content-type detection kernel (SPEC.md §1).

Reference analog: extension/MIME dispatch at
/root/reference/text_extractor.py:849-866 — reshaped for table input where
the payload itself must be sniffed (HTML tag probe, base64 %PDF magic).

The cheap prefix checks are ALSO expressed natively in Spark
(``functions/text.py:content_type_prefilter``) so Catalyst can route most
rows without entering Python; this kernel is the authoritative detector
used inside the extraction UDF.
"""

from __future__ import annotations

import base64
import binascii
import re

_HTML_TAG_RE = re.compile(
    r"<(!doctype\s+html|html|head|body|div|p|br|h[1-6]|ul|ol|li|table|a|span"
    r"|nav|footer|header|article|section|main)\b[^>]*>",
    re.IGNORECASE | re.DOTALL,
)
_B64_WS_RE = re.compile(r"\s+")

# Bytes a binary payload (PDF streams, OOXML members) may inflate to, per
# row: the decoded-side twin of extract.MAX_PAYLOAD_CHARS. Deflate expands
# up to ~1000:1, so a capped payload could otherwise claim gigabytes of
# worker memory; past the budget the row becomes a status='error' row.
MAX_INFLATE_BYTES = 64 << 20


def sniff_content_type(payload: str) -> tuple[str, bytes | None, str]:
    """Return ``(content_type, decoded_bytes_or_None, error)``.

    ``content_type`` in {'text','html','pdf','office'}; 'office' carries
    the decoded ZIP bytes (docx/xlsx/pptx resolved by the office kernel
    from the OOXML part names). ``error`` non-empty only for the
    magic-but-undecodable cases (failure-as-data, SPEC.md §1 step 2).
    """
    t = payload.strip()
    if not t:
        return "text", None, ""
    if t.startswith("JVBE"):
        compact = _B64_WS_RE.sub("", t)
        try:
            raw = base64.b64decode(compact, validate=True)
        except (binascii.Error, ValueError) as exc:
            return "pdf", None, f"base64 decode failed: {exc}"
        if raw.startswith(b"%PDF"):
            return "pdf", raw, ""
        return "pdf", None, "base64 payload lacks %PDF magic"
    if t.startswith("UEsDB"):  # base64 of b'PK\x03\x04' — OOXML zip
        compact = _B64_WS_RE.sub("", t)
        try:
            raw = base64.b64decode(compact, validate=True)
        except (binascii.Error, ValueError) as exc:
            return "office", None, f"base64 decode failed: {exc}"
        if raw.startswith(b"PK\x03\x04"):
            return "office", raw, ""
        return "office", None, "base64 payload lacks zip magic"
    if _HTML_TAG_RE.search(t):
        return "html", None, ""
    return "text", None, ""
