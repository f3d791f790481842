"""Office-document extraction kernels (SURVEY §2.1 S6/S7/S8).

From-scratch OOXML readers over stdlib ``zipfile`` + ``xml.etree`` — the
sandbox has none of the reference's python-docx / openpyxl / python-pptx
libs, so the *contracts* are reproduced from the reference source:

- DOCX (/root/reference/text_extractor.py:612-655): non-empty paragraphs
  ``'\\n'``-joined; table rows as stripped cells joined ``' | '``,
  appended under ``'\\n\\nTables:\\n'``; confidence 0.95.
- Excel (/root/reference/text_extractor.py:657-705): per sheet a
  ``"Sheet: {name}"`` header + rows of non-null cells joined ``' | '``;
  an empty line after every included sheet; sheets with no data skipped;
  confidence 0.95.
- PowerPoint (/root/reference/text_extractor.py:707-749): per slide a
  ``"Slide {i}:"`` header + shape texts; empty line after every included
  slide; confidence 0.95.

Payloads arrive as base64-encoded ZIP bytes in the transcript ``text``
column (same transport as the PDF branch); dispatch between the three
formats follows the OOXML part names (word/document.xml, xl/workbook.xml,
ppt/presentation.xml) — the zip-level analog of the reference's suffix
dispatch (/root/reference/text_extractor.py:905-925).
"""

from __future__ import annotations

import io
import posixpath
import unicodedata
import zipfile
import xml.etree.ElementTree as ET

from .sniff import MAX_INFLATE_BYTES

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_PR = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

Span = tuple[int, int, int, int, int]


class OfficeError(ValueError):
    """Malformed office payload; caller maps to status='error'."""


class _BoundedZip(zipfile.ZipFile):
    """A ZipFile whose member reads share one inflate budget
    (``sniff.MAX_INFLATE_BYTES``): a member whose declared size exceeds
    what is left raises before any inflation, and a read asks for at most
    the declared size plus one byte, so a header that understates the
    expansion ends in zipfile's CRC error, not in the expansion — a zip
    bomb becomes an error row, not a worker OOM."""

    def __init__(self, data: bytes):
        super().__init__(io.BytesIO(data))
        self.budget = MAX_INFLATE_BYTES

    def read(self, name, pwd=None) -> bytes:
        size = self.getinfo(name).file_size
        if size > self.budget:
            raise OfficeError(f"member {name} exceeds the inflate budget "
                              f"of {MAX_INFLATE_BYTES} bytes")
        with self.open(name, pwd=pwd) as member:
            data = member.read(size + 1)
        self.budget -= len(data)
        return data


def _nfc(s: str) -> str:
    return unicodedata.normalize("NFC", s)


# ---------------------------------------------------------------------------
# DOCX — S6
# ---------------------------------------------------------------------------

def _w_para_text(p) -> str:
    """python-docx ``p.text`` analog: concatenated run text (w:t),
    w:tab → '\\t', w:br/w:cr → '\\n'."""
    out: list[str] = []
    for el in p.iter():
        tag = el.tag
        if tag == f"{_W}t":
            out.append(el.text or "")
        elif tag == f"{_W}tab":
            out.append("\t")
        elif tag in (f"{_W}br", f"{_W}cr"):
            out.append("\n")
    return "".join(out)


def _extract_docx(zf: zipfile.ZipFile) -> tuple[str, list[str], dict]:
    try:
        root = ET.fromstring(zf.read("word/document.xml"))
    except (KeyError, ET.ParseError) as exc:
        raise OfficeError(f"bad docx: {exc}") from exc
    body = root.find(f"{_W}body")
    if body is None:
        raise OfficeError("bad docx: no body")
    paragraphs: list[str] = []
    table_rows: list[str] = []
    n_tables = 0
    for child in body:
        if child.tag == f"{_W}p":
            t = _w_para_text(child)
            if t.strip():
                paragraphs.append(t)  # kept UNstripped, reference :620
        elif child.tag == f"{_W}tbl":
            n_tables += 1
            for tr in child.findall(f"{_W}tr"):
                cells = []
                for tc in tr.findall(f"{_W}tc"):
                    # python-docx cell.text: cell paragraphs '\n'-joined
                    cell = "\n".join(_w_para_text(p)
                                     for p in tc.findall(f"{_W}p"))
                    cells.append(cell.strip())  # reference :626
                row_text = " | ".join(cells)
                if row_text.strip():
                    table_rows.append(row_text)
    # reference :630-633: paragraphs '\n'-joined; tables appended under
    # the '\n\nTables:\n' banner
    meta = {"paragraphs": str(len(paragraphs)), "tables": str(n_tables),
            "file_type": "docx"}
    text = "\n".join(paragraphs)
    if table_rows:
        text += "\n\nTables:\n" + "\n".join(table_rows)
    return text, paragraphs + table_rows, meta


# ---------------------------------------------------------------------------
# XLSX — S7
# ---------------------------------------------------------------------------

def _xlsx_shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(raw).iter(f"{_S}si"):
        out.append("".join(t.text or "" for t in si.iter(f"{_S}t")))
    return out


def _xlsx_cell_str(c, shared: list[str]) -> str | None:
    """openpyxl ``str(cell.value)`` analog for the cell types we read:
    shared/inline strings verbatim; numbers as int when integral else
    float (matching str() of openpyxl's parsed value); None when empty."""
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_S}is")
        if is_el is None:
            return None
        return "".join(x.text or "" for x in is_el.iter(f"{_S}t"))
    v = c.find(f"{_S}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        try:
            return shared[int(v.text)]
        except (ValueError, IndexError) as exc:
            raise OfficeError(f"bad shared string ref: {v.text}") from exc
    if t in ("str", "e", "d"):
        # "d" = ISO-8601 date cell (spec-valid, some producers emit it):
        # the text IS the value — the numeric fallback would choke on it
        return v.text
    if t == "b":
        return str(v.text.strip() not in ("0", "false", ""))
    # numeric: openpyxl yields int for integral values, float otherwise
    try:
        num = float(v.text)
    except ValueError as exc:
        # keep the typed-error contract — one malformed cell must raise
        # OfficeError, not a bare ValueError
        raise OfficeError(f"bad numeric cell value: {v.text!r}") from exc
    return str(int(num)) if num.is_integer() else str(num)


def _xlsx_sheets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """(sheet_name, zip_part_path) in workbook order."""
    try:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    except (KeyError, ET.ParseError) as exc:
        raise OfficeError(f"bad xlsx: {exc}") from exc
    rel_map = {r.get("Id"): r.get("Target")
               for r in rels.iter(f"{_PR}Relationship")}
    sheets = []
    for sh in wb.iter(f"{_S}sheet"):
        target = rel_map.get(sh.get(f"{_RNS}id"))
        if target is None:
            raise OfficeError("bad xlsx: sheet without relationship")
        part = posixpath.normpath(posixpath.join("xl", target))
        sheets.append((sh.get("name") or "", part))
    return sheets


def _extract_xlsx(zf: zipfile.ZipFile) -> tuple[str, list[str], dict]:
    shared = _xlsx_shared_strings(zf)
    sheets = _xlsx_sheets(zf)
    all_text: list[str] = []
    sections: list[str] = []
    total_cells = 0
    for name, part in sheets:
        try:
            ws = ET.fromstring(zf.read(part))
        except (KeyError, ET.ParseError) as exc:
            raise OfficeError(f"bad xlsx sheet {part}: {exc}") from exc
        sheet_text = [f"Sheet: {name}"]
        for row in ws.iter(f"{_S}row"):
            row_values = []
            for c in row.iter(f"{_S}c"):
                val = _xlsx_cell_str(c, shared)
                if val is not None:
                    row_values.append(val)
                    total_cells += 1  # reference :676 counts every cell
            if row_values:
                sheet_text.append(" | ".join(row_values))
        if len(sheet_text) > 1:  # reference :680: skip empty sheets
            all_text.extend(sheet_text)
            all_text.append("")  # empty line between sheets (:682)
            sections.append("\n".join(sheet_text))
    meta = {"sheets": str(len(sheets)), "total_cells": str(total_cells),
            "file_type": "xlsx"}
    return "\n".join(all_text), sections, meta


# ---------------------------------------------------------------------------
# PPTX — S8
# ---------------------------------------------------------------------------

def _pptx_slides(zf: zipfile.ZipFile) -> list[str]:
    """Slide part paths in presentation order."""
    try:
        pres = ET.fromstring(zf.read("ppt/presentation.xml"))
        rels = ET.fromstring(zf.read("ppt/_rels/presentation.xml.rels"))
    except (KeyError, ET.ParseError) as exc:
        raise OfficeError(f"bad pptx: {exc}") from exc
    rel_map = {r.get("Id"): r.get("Target")
               for r in rels.iter(f"{_PR}Relationship")}
    out = []
    for sld in pres.iter(f"{_P}sldId"):
        target = rel_map.get(sld.get(f"{_RNS}id"))
        if target is None:
            raise OfficeError("bad pptx: slide without relationship")
        out.append(posixpath.normpath(posixpath.join("ppt", target)))
    return out


def _pptx_shape_text(sp) -> str:
    """python-pptx ``shape.text`` analog: text-frame paragraphs
    '\\n'-joined, runs (a:t) concatenated, a:br → '\\n'."""
    tx = sp.find(f"{_P}txBody")
    if tx is None:
        return ""
    paras = []
    for p in tx.findall(f"{_A}p"):
        parts = []
        for el in p.iter():
            if el.tag == f"{_A}t":
                parts.append(el.text or "")
            elif el.tag == f"{_A}br":
                parts.append("\n")
        paras.append("".join(parts))
    return "\n".join(paras)


def _extract_pptx(zf: zipfile.ZipFile) -> tuple[str, list[str], dict]:
    all_text: list[str] = []
    sections: list[str] = []
    slide_count = 0
    for i, part in enumerate(_pptx_slides(zf), 1):
        try:
            sld = ET.fromstring(zf.read(part))
        except (KeyError, ET.ParseError) as exc:
            raise OfficeError(f"bad pptx slide {part}: {exc}") from exc
        slide_text = [f"Slide {i}:"]
        for sp in sld.iter(f"{_P}sp"):
            t = _pptx_shape_text(sp)
            if t.strip():
                slide_text.append(t)  # kept UNstripped, reference :723
        if len(slide_text) > 1:  # reference :725: skip empty slides
            all_text.extend(slide_text)
            all_text.append("")  # empty line between slides (:727)
            sections.append("\n".join(slide_text))
            slide_count += 1
    meta = {"slides": str(slide_count), "file_type": "pptx"}
    return "\n".join(all_text), sections, meta


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

# content_type → (part that identifies the format, extractor); values use
# the reference's extraction_method names (text_extractor.py:649,699,744)
_FORMATS = [
    ("docx", "word/document.xml", _extract_docx),
    ("excel", "xl/workbook.xml", _extract_xlsx),
    ("powerpoint", "ppt/presentation.xml", _extract_pptx),
]


def extract_office(data: bytes) -> tuple[str, str, list[Span], dict]:
    """Extract one OOXML payload → ``(kind, text, spans, metadata)``.

    ``kind`` ∈ {'docx','excel','powerpoint'}; spans are block-level
    (paragraph / table row / sheet section / slide section) with src
    offsets -1 (binary source, as for PDF). Raises OfficeError on any
    malformed condition — the caller maps it to a status='error' row.
    """
    try:
        zf = _BoundedZip(data)
    except zipfile.BadZipFile as exc:
        raise OfficeError(f"bad zip: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        for kind, marker, fn in _FORMATS:
            if marker in names:
                text, blocks, meta = fn(zf)
                text = _nfc(text)
                spans = _office_spans(text, [_nfc(b) for b in blocks])
                return kind, text, spans, meta
    raise OfficeError("unsupported office document type")


def _office_spans(text: str, blocks: list[str]) -> list[Span]:
    """Locate each block's slice in the joined text, in order —
    non-overlapping, strictly increasing (golden span contract)."""
    spans: list[Span] = []
    pos = 0
    for i, b in enumerate(blocks):
        if not b:
            continue
        start = text.find(b, pos)
        if start < 0:  # defensive: block text must come from `text`
            continue
        spans.append((i, start, start + len(b), -1, -1))
        pos = start + len(b)
    return spans
