"""Frozen copies of the document kernels' earlier implementations, the
references the equivalence tests compare the package's kernels with.

- The HTML kernel as a ``html.parser.HTMLParser`` subclass, with its
  ``getpos()`` line-start table (``extract_html``).
- The PDF content-stream interpreter's token loop: ``_tokenize`` with its
  literal and hex string readers, and ``_interpret``.

Both are verbatim apart from this docstring and the imports. The HTML one
still decodes a surrogate character reference to a lone surrogate; the
package decodes it to U+FFFD (see ``tests/test_document_kernels.py``).
"""

from __future__ import annotations

import html as _html
import re
from html.parser import HTMLParser

from advanced_text_extraction_spark.kernels.html_extract import (
    BLOCK_TAGS, CHROME_ATTR_RE, CHROME_TAGS, EXCLUDE_TAGS, VOID_TAGS)
from advanced_text_extraction_spark.kernels.normalize import normalize_inline
from advanced_text_extraction_spark.kernels.pdf_extract import (
    KERN_SPACE, PdfError, _NUM_RE)

class _Extractor(HTMLParser):
    """Single-pass block segmenter with chrome / link-density accounting."""

    def __init__(self, raw: str) -> None:
        super().__init__(convert_charrefs=False)
        # line-start offsets for getpos()→absolute-offset conversion
        self._line_starts = [0]
        for m in re.finditer("\n", raw):
            self._line_starts.append(m.end())
        # element stack entries: (tag, is_chrome, is_exclude)
        self._stack: list[tuple[str, bool, bool]] = []
        self._exclude_depth = 0
        self._chrome_depth = 0
        self._anchor_depth = 0
        # current block accumulator
        self._parts: list[str] = []
        self._words = 0
        self._link_words = 0
        self._chrome_hit = False
        self._src_start = -1
        self._src_end = -1
        self.blocks: list[tuple[str, int, int, int, int, bool]] = []
        # (text, words, link_words, src_start, src_end, chrome_hit)

    def _abs_pos(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def _flush(self) -> None:
        if not self._parts:
            return
        text = normalize_inline("".join(self._parts))
        if text:
            self.blocks.append(
                (text, self._words, self._link_words, self._src_start,
                 self._src_end, self._chrome_hit)
            )
        self._parts = []
        self._words = 0
        self._link_words = 0
        self._chrome_hit = False
        self._src_start = -1
        self._src_end = -1

    # -- parser events ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            if tag == "br" and not self._exclude_depth:
                self._parts.append(" ")
            if tag in BLOCK_TAGS:  # hr
                self._flush()
            return
        if tag in BLOCK_TAGS:
            self._flush()
        chrome = tag in CHROME_TAGS or any(
            k in ("class", "id") and v and CHROME_ATTR_RE.search(v)
            for k, v in attrs
        )
        exclude = tag in EXCLUDE_TAGS
        self._stack.append((tag, chrome, exclude))
        if chrome:
            self._chrome_depth += 1
        if exclude:
            self._exclude_depth += 1
        if tag == "a":
            self._anchor_depth += 1

    def handle_startendtag(self, tag, attrs):
        if tag == "br" and not self._exclude_depth:
            self._parts.append(" ")
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        # pop to the nearest matching open tag (tolerates mismatched markup)
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                for _tag, chrome, exclude in self._stack[i:]:
                    if chrome:
                        self._chrome_depth -= 1
                    if exclude:
                        self._exclude_depth -= 1
                    if _tag == "a":
                        self._anchor_depth -= 1
                del self._stack[i:]
                break

    def _add_text(self, decoded: str, raw_len: int) -> None:
        if self._exclude_depth or not decoded:
            return
        pos = self._abs_pos()
        if self._src_start < 0:
            self._src_start = pos
        self._src_end = pos + raw_len
        self._parts.append(decoded)
        n = len(decoded.split())
        self._words += n
        if self._anchor_depth > 0:
            self._link_words += n
        if self._chrome_depth > 0:
            self._chrome_hit = True

    def handle_data(self, data):
        self._add_text(data, len(data))

    def handle_entityref(self, name):
        self._add_text(_html.unescape(f"&{name};"), len(name) + 2)

    def handle_charref(self, name):
        try:
            cp = int(name[1:], 16) if name[0] in "xX" else int(name)
            decoded = chr(cp)
        except (ValueError, OverflowError):
            decoded = ""
        self._add_text(decoded, len(name) + 3)

    def close(self):
        super().close()
        self._flush()


def extract_html(raw: str) -> tuple[str, list[tuple[int, int, int, int, int]]]:
    """Return ``(extracted_text, spans)`` per SPEC.md §3.

    spans: list of (block_idx, start, end, src_start, src_end); start/end
    offsets into extracted_text, src_* into the raw markup.
    """
    parser = _Extractor(raw)
    parser.feed(raw)
    parser.close()

    out_parts: list[str] = []
    spans: list[tuple[int, int, int, int, int]] = []
    offset = 0
    idx = 0
    for text, words, link_words, src_start, src_end, chrome in parser.blocks:
        # KEEP rule (SPEC.md §3): non-chrome and link density <= 1/3
        if chrome or 3 * link_words > words:
            continue
        if out_parts:
            offset += 2  # '\n\n'
        out_parts.append(text)
        spans.append((idx, offset, offset + len(text), src_start, src_end))
        offset += len(text)
        idx += 1
    return "\n\n".join(out_parts), spans


_ESCAPES = {
    b"n"[0]: "\n", b"r"[0]: "\r", b"t"[0]: "\t", b"b"[0]: "\b",
    b"f"[0]: "\f", b"("[0]: "(", b")"[0]: ")", b"\\"[0]: "\\",
}


def _read_literal_string(data: bytes, i: int) -> tuple[str, int]:
    """Parse a ``(...)`` literal starting at the '(' — SPEC.md §4 step 4."""
    assert data[i : i + 1] == b"("
    i += 1
    depth = 1
    out: list[str] = []
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                j = i
                while j < min(i + 3, n) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(chr(int(data[i:j], 8) & 0xFF))
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(chr(e))
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")")
            i += 1
        else:
            out.append(chr(c))  # Latin-1 semantics
            i += 1
    raise PdfError("unterminated string literal")


def _read_hex_string(data: bytes, i: int) -> tuple[str, int]:
    assert data[i : i + 1] == b"<"
    j = data.find(b">", i + 1)
    if j < 0:
        raise PdfError("unterminated hex string")
    hexdigits = re.sub(rb"\s+", b"", data[i + 1 : j])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        raw = bytes.fromhex(hexdigits.decode("ascii"))
    except ValueError as exc:
        raise PdfError(f"bad hex string: {exc}") from exc
    return raw.decode("latin-1"), j + 1


_DELIMS = b"()<>[]{}/%"
_WS = b"\x00\t\n\x0c\r "


def _tokenize(data: bytes):
    """Yield ('str', s) | ('num', f) | ('op', name) | ('arr', ...) markers."""
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == 0x28:  # (
            s, i = _read_literal_string(data, i)
            yield ("str", s)
        elif c == 0x3C:  # < — hex string or dict
            if data[i : i + 2] == b"<<":
                yield ("op", "<<")
                i += 2
            else:
                s, i = _read_hex_string(data, i)
                yield ("str", s)
        elif data[i : i + 2] == b">>":
            yield ("op", ">>")
            i += 2
        elif c == 0x5B:  # [
            yield ("op", "[")
            i += 1
        elif c == 0x5D:  # ]
            yield ("op", "]")
            i += 1
        elif c == 0x2F:  # /name
            j = i + 1
            while j < n and data[j] not in _WS and data[j] not in _DELIMS:
                j += 1
            yield ("name", data[i:j].decode("latin-1"))
            i = j
        else:
            j = i
            while j < n and data[j] not in _WS and data[j] not in _DELIMS:
                j += 1
            tok = data[i:j]
            if not tok:
                raise PdfError(f"stray delimiter {data[i:i+1]!r}")
            if _NUM_RE.fullmatch(tok):
                yield ("num", float(tok))
            else:
                yield ("op", tok.decode("latin-1"))
            i = j


def _interpret(stream: bytes) -> list[tuple[float, float, str]]:
    """Run the text operators; return emitted runs (tx, ty, text)."""
    runs: list[tuple[float, float, str]] = []
    tx = ty = 0.0
    leading = 0.0
    stack: list = []  # operand stack (nums, strs, arrays)
    arrays: list[list] = []  # nested [ ... ] capture

    def emit(s: str) -> None:
        if s:
            runs.append((tx, ty, s))

    for kind, val in _tokenize(stream):
        if kind in ("num", "str"):
            (arrays[-1] if arrays else stack).append((kind, val))
        elif kind == "name":
            (arrays[-1] if arrays else stack).append((kind, val))
        elif val == "[":
            arrays.append([])
        elif val == "]":
            arr = arrays.pop()
            (arrays[-1] if arrays else stack).append(("arr", arr))
        elif val in ("<<", ">>"):
            continue
        else:  # operator — consume operands from stack
            op = val
            if op == "BT":
                tx = ty = 0.0
            elif op == "Td" and len(stack) >= 2:
                b = stack[-1][1]
                a = stack[-2][1]
                tx, ty = tx + a, ty + b
            elif op == "TD" and len(stack) >= 2:
                b = stack[-1][1]
                a = stack[-2][1]
                leading = -b
                tx, ty = tx + a, ty + b
            elif op == "Tm" and len(stack) >= 6:
                tx, ty = stack[-2][1], stack[-1][1]
            elif op == "T*":
                ty -= leading
            elif op == "TL" and stack:
                leading = stack[-1][1]
            elif op == "Tj" and stack and stack[-1][0] == "str":
                emit(stack[-1][1])
            elif op == "TJ" and stack and stack[-1][0] == "arr":
                parts: list[str] = []
                for k, v in stack[-1][1]:
                    if k == "str":
                        parts.append(v)
                    elif k == "num" and v <= KERN_SPACE:
                        parts.append(" ")
                emit("".join(parts))
            elif op == "'" and stack and stack[-1][0] == "str":
                ty -= leading
                emit(stack[-1][1])
            elif op == '"' and len(stack) >= 3 and stack[-1][0] == "str":
                ty -= leading
                emit(stack[-1][1])
            stack.clear()
    return runs


