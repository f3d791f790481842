"""PDF text-layer extraction kernel (SPEC.md §4).

From-scratch pure-Python content-stream reader (the sandbox has none of the
reference's PDF libs). Reproduces the reference's PDF *contract* — pages
joined ``'\\n\\n'`` (/root/reference/text_extractor.py:573), text-layer
gate at >50 stripped chars (/root/reference/text_extractor.py:501-507),
confidence 0.95 (/root/reference/text_extractor.py:511) — while replacing
its pdfplumber→PyMuPDF→PyPDF2 cascade (/root/reference/text_extractor.py:
534-573) with pdfminer-style layout analysis: y-cluster line grouping,
descending-y reading order, x-sorted runs within a line (north-star
requirement).

Object model: scan for ``N G obj … endobj``; streams delimited by
``stream``/``endstream``; FlateDecode via stdlib zlib, bounded by the
per-document inflate budget ``sniff.MAX_INFLATE_BYTES``, which one
:class:`PdfDocument` parse hands to both its text layer and its page
images. Page order from the root /Pages node's /Kids when present.
"""

from __future__ import annotations

import re
import unicodedata
import zlib

from .sniff import MAX_INFLATE_BYTES

_OBJ_START_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
# ISO 32000 §7.7.3.1 also allows the array form /Contents [3 0 R 4 0 R]
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[((?:\s*\d+\s+\d+\s+R)*)\s*\]")
# ISO 32000 §7.3.3: reals may end with the dot ('10.') or start with it
_NUM_RE = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")

# TJ kerning threshold (thousandths of text space) below which a space is
# inserted — SPEC.md §4 step 3.
KERN_SPACE = -180.0
# y values rounded to one decimal for line clustering — SPEC.md §4 step 5.
_Y_ROUND = 1


class PdfError(ValueError):
    """Raised on any malformed-PDF condition; caller maps to status='error'."""


def _parse_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Sequential object scan → {obj_num: (dict_head, raw_stream_or_None)}.

    Stream extents come from a direct /Length when present (binary stream
    bytes may legitimately contain ``endobj``/``endstream``); otherwise the
    first ``endstream`` delimits.
    """
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    while True:
        m = _OBJ_START_RE.search(data, pos)
        if m is None:
            break
        num = int(m.group(1))
        body_start = m.end()
        end_obj = data.find(b"endobj", body_start)
        sm = _STREAM_START_RE.search(data, body_start)
        if sm is not None and (end_obj < 0 or sm.start() < end_obj):
            head = data[body_start : sm.start()]
            lm = _LENGTH_RE.search(head)
            if lm is not None:
                s0 = sm.end()
                s1 = s0 + int(lm.group(1))
            else:
                s0 = sm.end()
                s1 = data.find(b"endstream", s0)
                if s1 < 0:
                    raise PdfError("unterminated stream")
                # trailing EOL before 'endstream' belongs to the delimiter
                if data[s1 - 2 : s1] == b"\r\n":
                    s1 -= 2
                elif data[s1 - 1 : s1] == b"\n":
                    s1 -= 1
            objs[num] = (head, data[s0:s1])
            end_obj = data.find(b"endobj", s1)
            pos = len(data) if end_obj < 0 else end_obj + 6
        else:
            if end_obj < 0:
                raise PdfError(f"object {num} not terminated")
            objs[num] = (data[body_start:end_obj], None)
            pos = end_obj + 6
    if not objs:
        raise PdfError("no PDF objects found")
    return objs


def _decode_stream(head: bytes, raw: bytes, budget: int) -> bytes:
    """The stream's bytes, FlateDecoded when its dict says so, inflating
    at most ``budget`` bytes: a deflate bomb (~1000:1) raises PdfError
    instead of allocating its full expansion."""
    if b"/FlateDecode" in head:
        inflater = zlib.decompressobj()
        try:
            # max_length 0 would mean "no limit": ask for one byte more
            # than the budget, so an exhausted budget still stops it
            out = inflater.decompress(raw, budget + 1)
        except zlib.error as exc:
            raise PdfError(f"FlateDecode failed: {exc}") from exc
        if len(out) > budget:
            raise PdfError(f"FlateDecode output exceeds the inflate "
                           f"budget of {MAX_INFLATE_BYTES} bytes")
        if not inflater.eof:  # what zlib.decompress reports for this
            raise PdfError("FlateDecode failed: Error -5 while "
                           "decompressing data: incomplete or truncated "
                           "stream")
        raw = out
    return raw


def _ordered_pages(objs: dict[int, tuple[bytes, bytes | None]]
                   ) -> list[tuple[int, bytes]]:
    """Page objects in document order: depth-first walk of the page TREE
    from its root(s), else object-number order. Returns
    [(page_obj_num, page_dict_head)].

    The tree may be nested (ISO 32000 §7.7.3.2: intermediate /Pages
    nodes) — a flat 'last /Kids wins' read keeps only one subtree and
    silently drops the others' pages. Roots are /Pages nodes that no
    other /Pages lists as a kid; a visited set makes malformed cyclic
    trees terminate instead of recursing forever."""
    pages: dict[int, bytes] = {}
    kids_of: dict[int, list[int]] = {}
    for num, (head, _stream) in objs.items():
        if re.search(rb"/Type\s*/Page\b(?!s)", head):
            pages[num] = head
        elif re.search(rb"/Type\s*/Pages\b", head):
            km = _KIDS_RE.search(head)
            kids_of[num] = [int(r.group(1))
                            for r in _REF_RE.finditer(km.group(1))] \
                if km else []
    if not pages:
        raise PdfError("no /Type /Page objects")
    listed = {k for kids in kids_of.values() for k in kids}
    roots = sorted(n for n in kids_of if n not in listed)
    order: list[int] = []
    seen: set[int] = set()
    stack = list(reversed(roots))
    while stack:
        n = stack.pop()
        if n in seen:
            continue  # malformed cycle / duplicate ref
        seen.add(n)
        if n in pages:
            order.append(n)
        else:
            stack.extend(reversed(kids_of.get(n, [])))
    ordered = order or sorted(pages)
    return [(n, pages[n]) for n in ordered]


def _content_refs(head: bytes) -> list[int]:
    """Object numbers of a page's content stream(s): the single-ref form
    or the spec's array form /Contents [3 0 R 4 0 R] (whose streams
    concatenate in order, §7.8.2)."""
    am = _CONTENTS_ARR_RE.search(head)
    if am:
        return [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))]
    cm = _CONTENTS_RE.search(head)
    return [int(cm.group(1))] if cm else []


_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.DOTALL)
_NAME_REF_RE = re.compile(rb"/[^\s/<>\[\]()]+\s+(\d+)\s+\d+\s+R")
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")


class PdfDocument:
    """One parse of a PDF and its one inflate budget: the text layer and
    the page images draw every stream from the same
    ``MAX_INFLATE_BYTES``, so a row that reads both (the P3 OCR
    fallback) parses once and inflates at most that much."""

    def __init__(self, data: bytes):
        self.objs = _parse_objects(data)
        self.pages = _ordered_pages(self.objs)
        self.budget = MAX_INFLATE_BYTES

    def _inflate(self, head: bytes, raw: bytes) -> bytes:
        out = _decode_stream(head, raw, self.budget)
        self.budget -= len(out)
        return out

    def content_streams(self) -> list[bytes]:
        streams: list[bytes] = []
        for _num, head in self.pages:
            refs = _content_refs(head)
            if not refs:
                # /Contents is optional per the PDF spec (a blank page) —
                # skip it, matching the oracle (oracle/extractor.py:
                # _pdf_pages keeps only pages WITH a /Contents ref).
                # Raising here would flip a 9-good-pages document into a
                # whole-doc error row.
                continue
            parts = []
            for ref in refs:
                entry = self.objs.get(ref)
                if entry is None or entry[1] is None:
                    raise PdfError(f"missing /Contents stream object {ref}")
                parts.append(self._inflate(*entry))
            # §7.8.2: multiple streams form one content stream, separated
            # by at least one whitespace byte
            streams.append(b"\n".join(parts))
        if not streams:
            raise PdfError("no page has /Contents")  # oracle: 'no pages'
        return streams

    def page_images(self) -> list[list[tuple[int, int, bytes]]]:
        """Per-page decoded image XObjects — the raster source for the
        PDF OCR path (S5; the reference renders pages at
        text_extractor.py:575-610 — a table pipeline carries scanned
        pages as embedded images rather than re-rendering, so extraction
        replaces rasterization).

        Returns one list per page of ``(width, height, raw_bytes)`` where
        raw_bytes is the FlateDecoded /DeviceGray 8-bit sample buffer
        (width*height bytes, row-major) — decode with
        ``image_codec.decode_raw_gray``.
        """
        out: list[list[tuple[int, int, bytes]]] = []
        for _num, head in self.pages:
            images: list[tuple[int, int, bytes]] = []
            xm = _XOBJ_DICT_RE.search(head)
            if xm:
                for m in _NAME_REF_RE.finditer(xm.group(1)):
                    entry = self.objs.get(int(m.group(1)))
                    if entry is None or entry[1] is None:
                        continue
                    ihead, istream = entry
                    if not re.search(rb"/Subtype\s*/Image\b", ihead):
                        continue
                    wm = _WIDTH_RE.search(ihead)
                    hm = _HEIGHT_RE.search(ihead)
                    if not (wm and hm):
                        continue
                    images.append((int(wm.group(1)), int(hm.group(1)),
                                   self._inflate(ihead, istream)))
            out.append(images)
        return out

    def text_layer(
        self,
    ) -> tuple[str, list[tuple[int, int, int, int, int]], str, int]:
        """``(extracted_text, spans, text_layer_flag, n_pages)`` — see
        :func:`extract_pdf`."""
        page_texts = [
            unicodedata.normalize("NFC", _layout(_interpret(s)))
            for s in self.content_streams()
        ]
        spans: list[tuple[int, int, int, int, int]] = []
        offset = 0
        for p, text in enumerate(page_texts):
            if p > 0:
                offset += 2  # '\n\n' page join (text_extractor.py:573)
            if text:
                spans.append((p, offset, offset + len(text), -1, -1))
            offset += len(text)
        joined = "\n\n".join(page_texts)
        gate = "ok" if len(joined.strip()) > 50 else "short"  # P3 gate
        return joined, spans, gate, len(page_texts)


def extract_page_images(data: bytes) -> list[list[tuple[int, int, bytes]]]:
    """:meth:`PdfDocument.page_images` of a PDF's bytes."""
    return PdfDocument(data).page_images()


# --------------------------------------------------------------------------
# content-stream interpreter: one regex match per text operation
# --------------------------------------------------------------------------

# The content-stream grammar of ISO 32000 §7.2/§7.3 as the token loop
# below reads it. A "regular" byte is neither white space nor a delimiter;
# a run of them is a number when all of it is one, else an operator.
_REG = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_SKIP = rb"[\x00\t\n\x0c\r ]++|%[^\n]*+|<<|>>"  # << >> are ignored
_ANY = rb"(?:" + _SKIP + rb")*+"
_NUM = rb"[-+]?+(?:\d++\.?+\d*+|\.\d++)(?!" + _REG + rb")"
# a literal without nested parentheses, every escape well-formed
_LIT = rb"\((?:[^\\()]++|\\[\s\S])*+\)"
_HEX = rb"<[0-9A-Fa-f\t\n\x0b\x0c\r ]*+>"
_STR = _LIT + rb"|" + _HEX
_NAME = rb"/" + _REG + rb"*+"
# an array of strings, numbers and names: no nesting, no operators
_ARR = rb"\[(?:" + rb"|".join((_SKIP, _NUM, _STR, _NAME)) + rb")*+\]"
_OPERAND = rb"|".join((_NUM, _STR, _NAME, _ARR))


def _op(name: str, operands: list[tuple[str | None, bytes]],
        ops: bytes) -> bytes:
    """An alternative of ``_OP_RE``: exactly these operands, each in a
    named group (or unnamed, for None), then one of ``ops``; the operator
    group, named ``name``, is the match's ``lastgroup``."""
    out = _ANY
    for group, pattern in operands:
        out += (rb"(?:" if group is None else
                rb"(?P<" + group.encode() + rb">") + pattern + rb")" + _ANY
    return out + rb"(?P<" + name.encode() + rb">" + ops + rb")(?!" + _REG + rb")"


_TEXT_OP = rb"(?:BT|T[dDmLjJ*]|['\"])(?!" + _REG + rb")"
# the operations of every other operator, operands included
_OTHER_OPS = (rb"(?:(?:" + _SKIP + rb"|" + _OPERAND + rb")*+(?!" + _TEXT_OP
              + rb")" + _REG + rb"++)*+")
# One text operation per match, after the other operations before it,
# which the match skips without converting an operand. A text operation
# with the operands it reads matches the alternative of its shape, which
# hands them over in groups; any other text operation matches ``op``
# (``args`` alone matches operands at the end of the stream). What no
# operation can take — a stray or unbalanced delimiter, a nested literal
# or array, an operator inside an array, a string that never ends —
# matches ``bad``. ``bad``, and an ``op`` of a shape the interpreter does
# not read (``Td`` after a string, ``Tj`` after two strings), hand the
# whole stream to the token loop, whose results and errors are the
# contract.
_OP_RE = re.compile(_OTHER_OPS + rb"(?:" + rb"|".join((
    _op("td", [("td_x", _NUM), ("td_y", _NUM)], rb"Td|TD"),
    _op("show", [("show_s", _STR)], rb"Tj|'"),
    _op("tj", [("tj_a", _ARR)], rb"TJ"),
    _op("tm", [(None, _NUM)] * 4 + [("tm_x", _NUM), ("tm_y", _NUM)], rb"Tm"),
    _op("tl", [("tl_n", _NUM)], rb"TL"),
    _op("show2", [(None, _NUM), (None, _NUM), ("show2_s", _STR)], rb'"'),
    rb"(?P<args>(?:" + _SKIP + rb"|" + _OPERAND + rb")*+)(?:(?P<op>" + _REG
    + rb"++)|\Z)",
    rb"(?P<bad>[\s\S])")) + rb")")
# the elements of a TJ array
_ELEM_RE = re.compile(rb"(?:" + _SKIP + rb")|(" + _NUM + rb")|(" + _STR
                      + rb")|" + _NAME)
_ESCAPE_RE = re.compile(rb"\\([0-7]{1,3}|\r\n?|[\s\S])")
_ESCAPE_BYTES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"\r\n": b"", b"\r": b"", b"\n": b"",  # line continuation
}


def _unescape(m: re.Match) -> bytes:
    e = m.group(1)
    if 0x30 <= e[0] <= 0x37:  # octal, 1-3 digits
        return bytes((int(e, 8) & 0xFF,))
    return _ESCAPE_BYTES.get(e, e)


def _string(tok: bytes) -> str:
    """The text of a ``_STR`` token — SPEC.md §4 step 4."""
    body = tok[1:-1]
    if tok[0] == 0x3C:  # <hex>
        body = body.translate(None, b" \t\n\r\x0b\x0c")
        if len(body) % 2:
            body += b"0"
        return bytes.fromhex(body.decode("ascii")).decode("latin-1")
    if b"\\" in body:
        body = _ESCAPE_RE.sub(_unescape, body)
    return body.decode("latin-1")


def _tj_text(arr: bytes) -> str:
    """A ``TJ`` array's text: its strings, and a space for each kerning
    number at or below ``KERN_SPACE`` — SPEC.md §4 step 3."""
    parts: list[str] = []
    for num, s in _ELEM_RE.findall(arr[1:-1]):
        if s:
            parts.append(_string(s))
        elif num and float(num) <= KERN_SPACE:
            parts.append(" ")
    return "".join(parts)


def _interpret(stream: bytes) -> list[tuple[float, float, str]]:
    """Run the text operators; return emitted runs (tx, ty, text).

    One ``_OP_RE`` match per text operation, so Python runs once per text
    operation and converts only the operands it reads; a stream outside
    the shapes ``_OP_RE`` reads goes through :func:`_interpret_tokens`."""
    runs: list[tuple[float, float, str]] = []
    tx = ty = 0.0
    leading = 0.0
    for m in _OP_RE.finditer(stream):
        g = m.lastgroup
        if g == "td":
            a, b, op = m.group("td_x", "td_y", "td")
            a, b = float(a), float(b)
            if op == b"TD":
                leading = -b
            tx, ty = tx + a, ty + b
            continue
        if g == "op":  # a text operator
            op = m.group("op")
            if op == b"BT":
                tx = ty = 0.0
            elif op == b"T*":
                ty -= leading
            else:
                return _interpret_tokens(stream)
            continue
        if g == "show":
            s, op = m.group("show_s", "show")
            if op == b"'":
                ty -= leading
            s = _string(s)
        elif g == "tj":
            s = _tj_text(m.group("tj_a"))
        elif g == "tm":
            tx, ty = float(m.group("tm_x")), float(m.group("tm_y"))
            continue
        elif g == "tl":
            leading = float(m.group("tl_n"))
            continue
        elif g == "show2":
            ty -= leading
            s = _string(m.group("show2_s"))
        elif g == "bad":
            return _interpret_tokens(stream)
        else:
            continue  # operands at the end of the stream
        if s:
            runs.append((tx, ty, s))
    return runs


# --------------------------------------------------------------------------
# the token loop: the path for the syntax _OP_RE does not cover
# --------------------------------------------------------------------------

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


def _interpret_tokens(stream: bytes) -> list[tuple[float, float, str]]:
    """Run the text operators token by token; return emitted runs (tx, ty,
    text). The path for the syntax :func:`_interpret` leaves to it."""
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


def _layout(runs: list[tuple[float, float, str]]) -> str:
    """y-cluster line grouping, descending-y order, x-sorted runs."""
    lines: dict[float, list[tuple[float, str]]] = {}
    for tx, ty, s in runs:
        lines.setdefault(round(ty, _Y_ROUND), []).append((tx, s))
    out_lines: list[str] = []
    for y in sorted(lines, reverse=True):
        parts = [s.strip() for _, s in sorted(lines[y], key=lambda p: p[0])]
        line = " ".join(p for p in parts if p)
        if line:
            out_lines.append(line)
    return "\n".join(out_lines)


def extract_pdf(
    data: bytes,
) -> tuple[str, list[tuple[int, int, int, int, int]], str, int]:
    """Return ``(extracted_text, spans, text_layer_flag, n_pages)`` — SPEC.md §4.

    spans: (block_idx=page, start, end, -1, -1). Raises PdfError on
    malformed input (caller converts to a status='error' row — a row never
    kills the job, reference analog text_extractor.py:987-989).
    """
    return PdfDocument(data).text_layer()
