"""Deterministic transcript fixture generator (FIXTURES.md, seed=42).

Synthesizes the BASELINE.json:input_hint table shape
``(conv_id, turn_idx, role, text, tool, ts)`` with six payload types
(~62% plain / ~24% HTML / ~5% base64 PDF / ~9% base64 OOXML
docx+xlsx+pptx), long-conversation skew
(conv-0 ≈ 20% of all turns), shuffled row order (forces the order-restore
window), and the FIXTURES.md §3 edge-case rows. No external data.

The PDF writer emits spec-valid minimal PDFs (xref + trailer, direct
/Length, optional FlateDecode) exercising Td/TD/T*/Tm/Tj/TJ/'/",
escapes, octal, hex strings, and out-of-reading-order emission.
"""

from __future__ import annotations

import base64
import random
import zlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ("user", "assistant", "tool")
TOOLS = ("browser", "pdf_reader", "editor")

# per-language vocab: markers (SPEC.md §5 stopwords) + filler words
_VOCAB = {
    "en": (
        "the and is are was were this that with for have has not you they "
        "from but what all can".split(),
        "model pipeline data cluster spark shuffle partition window table "
        "query result stream batch token text page line block extract".split(),
    ),
    "es": (
        "el los las una por con para como pero más este esta ser hay muy "
        "sin sobre también hasta donde".split(),
        "datos modelo sistema tabla consulta proceso página línea bloque "
        "texto resultado flujo".split(),
    ),
    "fr": (
        "le les des une est dans qui pas sur vous nous avec être cette "
        "mais ont aux ses fait aussi".split(),
        "données modèle système table requête processus page ligne bloc "
        "texte résultat flux".split(),
    ),
    "de": (
        "der die das und ist nicht ein eine mit auf sich auch werden wird "
        "bei nach aber aus durch dem".split(),
        "daten modell system tabelle abfrage prozess seite zeile block "
        "text ergebnis fluss".split(),
    ),
}
_HAZARDS = [
    "\r\n",          # CRLF
    "\u00a0",         # NBSP
    "\u200b",         # zero-width space
    "e\u0301",        # combining accent -> NFC e-acute
    "\t",             # tab
    "   ",            # space run
    "\U0001f642",     # emoji
    "\u6f22\u5b57\u30c6\u30ad\u30b9\u30c8",  # CJK
    "\u200d",         # ZWJ
]
_LATIN_WORDS = (
    "alpha beta gamma delta report summary figure table caption result "
    "method system value metric sample window stream".split()
)


def _sentence(rng: random.Random, lang: str, n: int = 10) -> str:
    markers, filler = _VOCAB[lang]
    words = [rng.choice(markers if rng.random() < 0.45 else filler) for _ in range(n)]
    return " ".join(words).capitalize() + "."


def gen_plain(rng: random.Random) -> str:
    lang = rng.choice(list(_VOCAB))
    parts = []
    for _ in range(rng.randint(1, 5)):
        s = _sentence(rng, lang, rng.randint(6, 16))
        if rng.random() < 0.4:  # inject normalization hazards
            h = rng.choice(_HAZARDS)
            i = rng.randint(0, len(s))
            s = s[:i] + h + s[i:]
        parts.append(s)
    sep = rng.choice([" ", "\n", "\r\n", "\n\n", "  \n  "])
    return sep.join(parts)


# --------------------------------------------------------------------------
# HTML payloads
# --------------------------------------------------------------------------

_NAV_LINKS = ["Home", "About", "Products", "Blog", "Contact", "Login", "Sign up"]


def gen_html(rng: random.Random, all_boilerplate: bool = False,
             mismatched: bool = False) -> str:
    lang = rng.choice(list(_VOCAB))
    nav = "".join(f'<li><a href="/{w.lower()}">{w}</a></li>' for w in _NAV_LINKS)
    related = "".join(
        f'<li><a href="/r/{i}">{_sentence(rng, lang, 3)[:-1]}</a></li>'
        for i in range(rng.randint(2, 5))
    )
    chrome = (
        "<header><h1>Site Title</h1></header>"
        f"<nav><ul>{nav}</ul></nav>"
        '<div class="cookie-banner">We use cookies to improve your experience.'
        " <a href=\"/accept\">Accept</a> <a href=\"/decline\">Decline</a></div>"
        f'<aside id="sidebar"><h3>Related</h3><ul>{related}</ul></aside>'
    )
    blocks: list[str] = []
    if not all_boilerplate:
        for _ in range(rng.randint(1, 5)):
            kind = rng.random()
            body = _sentence(rng, lang, rng.randint(8, 20))
            if rng.random() < 0.3:
                body += " &amp; more &#x27;quoted&#x27;&nbsp;entities."
            if rng.random() < 0.25:  # in-content link, low density → kept
                body += f' See <a href="/doc">the full document</a> for details.'
            if kind < 0.2:
                blocks.append(f"<h2>{_sentence(rng, lang, 4)[:-1]}</h2>")
                blocks.append(f"<p>{body}</p>")
            elif kind < 0.4:
                items = "".join(
                    f"<li>{_sentence(rng, lang, rng.randint(4, 9))}</li>"
                    for _ in range(rng.randint(2, 4))
                )
                blocks.append(f"<ul>{items}</ul>")
            elif kind < 0.6:
                blocks.append(f"<div><div>{body}</div></div>")
            else:
                blocks.append(f"<p>{body}</p>")
    main = f"<main><article>{''.join(blocks)}</article></main>"
    footer = '<footer><p>© 2026 Example Corp · <a href="/tos">Terms</a></p></footer>'
    doc = (
        "<!DOCTYPE html><html><head><title>Fixture Page</title>"
        "<style>body{margin:0} .x{color:red}</style>"
        "<script>var t=1;if(t<2){console.log('<p>not text</p>')}</script>"
        "</head><body><!-- chrome -->"
        f"{chrome}{main}{footer}</body></html>"
    )
    if mismatched:
        doc = doc.replace("</article>", "").replace("</main>", "", 1)
    return doc


# --------------------------------------------------------------------------
# PDF payloads
# --------------------------------------------------------------------------

def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _line_ops(rng: random.Random, x: float, y: float, text: str) -> str:
    """One text line at (x, y), varying the operator mix."""
    mode = rng.random()
    esc = _pdf_escape(text)
    if mode < 0.45:
        return f"BT /F1 12 Tf {x:.1f} {y:.1f} Td ({esc}) Tj ET"
    if mode < 0.65:  # TJ with kerning: split a word; -50 no space, -250 space
        words = text.split()
        if len(words) >= 2:
            head, tail = words[0], " ".join(words[1:])
            h1, h2 = head[: len(head) // 2], head[len(head) // 2 :]
            return (
                f"BT /F1 12 Tf {x:.1f} {y:.1f} Td "
                f"[({_pdf_escape(h1)}) -50 ({_pdf_escape(h2)}) -250 "
                f"({_pdf_escape(tail)})] TJ ET"
            )
        return f"BT /F1 12 Tf {x:.1f} {y:.1f} Td ({esc}) Tj ET"
    if mode < 0.8:  # Tm positioning
        return f"BT /F1 12 Tf 1 0 0 1 {x:.1f} {y:.1f} Tm ({esc}) Tj ET"
    if mode < 0.9:  # TD + ' (next-line show)
        first, _, rest = text.partition(" ")
        if rest:
            return (
                f"BT /F1 12 Tf {x:.1f} {y + 14:.1f} Td 0 -14 TD "
                f"({_pdf_escape(first)}) Tj ({_pdf_escape(rest)}) ' ET"
            )
        return f"BT /F1 12 Tf {x:.1f} {y:.1f} Td ({esc}) Tj ET"
    # hex string
    hexs = text.encode("latin-1", "replace").hex()
    return f"BT /F1 12 Tf {x:.1f} {y:.1f} Td <{hexs}> Tj ET"


def build_pdf(pages: list[list[str]], rng: random.Random, flate: bool) -> bytes:
    """Spec-valid minimal PDF; lines emitted in shuffled order per page."""
    n = len(pages)
    # objs: 1 catalog, 2 pages-node, then per page (page obj, content obj), font last
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    font_num = 3 + 2 * n
    for i, lines in enumerate(pages):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_num} 0 R /Resources << /Font << /F1 "
            f"{font_num} 0 R >> >> >>".encode()
        )
        ops = [
            _line_ops(rng, 72 + rng.random() * 5, 720 - 18 * j, line)
            for j, line in enumerate(lines)
        ]
        rng.shuffle(ops)  # out-of-reading-order emission
        stream = "\n".join(ops).encode("latin-1")
        if flate:
            comp = zlib.compress(stream)
            objs.append(
                f"<< /Length {len(comp)} /Filter /FlateDecode >>\nstream\n".encode()
                + comp + b"\nendstream"
            )
        else:
            objs.append(
                f"<< /Length {len(stream)} >>\nstream\n".encode()
                + stream + b"\nendstream"
            )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _emit_pdf(objs)


def _emit_pdf(objs: list[bytes]) -> bytes:
    """Serialize numbered objects into a complete PDF (header, bodies,
    xref table, trailer) — the ONE emitter both generators share."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _deflate_repeated(chunk: bytes, total: int) -> bytes:
    """zlib stream of ``chunk`` repeated to ``total`` bytes, compressed
    chunk by chunk so the expansion is never held in memory."""
    comp = zlib.compressobj(9)
    out = []
    for _ in range(total // len(chunk)):
        out.append(comp.compress(chunk))
    out.append(comp.flush())
    return b"".join(out)


def build_flate_bomb_pdf(stream_bytes: int, n_pages: int = 1) -> bytes:
    """A PDF of ``n_pages`` pages whose FlateDecode content streams each
    inflate to ``stream_bytes`` bytes of whitespace (~1000:1) — the
    deflate bomb the extraction's inflate budget must stop."""
    comp = _deflate_repeated(b" " * (1 << 20), stream_bytes)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()]
    for i in range(n_pages):
        objs.append(f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * i} "
                    f"0 R >>".encode())
        objs.append(f"<< /Length {len(comp)} /Filter /FlateDecode >>\n"
                    f"stream\n".encode() + comp + b"\nendstream")
    return _emit_pdf(objs)


def build_zip_bomb_docx(member_bytes: int,
                        declared_bytes: int | None = None) -> bytes:
    """A DOCX whose word/document.xml inflates to ``member_bytes`` bytes.
    ``declared_bytes`` rewrites the size its central directory claims, so
    the header lies about the expansion."""
    import io
    import struct
    import zipfile

    head = f"<w:document {_W_NS}><w:body><w:p><w:r><w:t>".encode()
    tail = b"</w:t></w:r></w:p></w:body></w:document>"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", '<?xml version="1.0"?><Types/>')
        with zf.open("word/document.xml", "w") as member:
            member.write(head)
            for _ in range((member_bytes - len(head) - len(tail)) >> 20):
                member.write(b"a" * (1 << 20))
            member.write(tail)
    data = bytearray(buf.getvalue())
    if declared_bytes is not None:
        # the central directory's uncompressed-size field (offset 24) is
        # the size zipfile trusts
        name = b"word/document.xml"
        at = data.rfind(name) - 46  # the 46-byte header precedes the name
        assert data[at:at + 4] == b"PK\x01\x02"
        struct.pack_into("<I", data, at + 24, declared_bytes)
    return bytes(data)


def gen_pdf_payload(rng: random.Random, short: bool = False) -> str:
    lang = "en"
    n_pages = 1 if short else rng.randint(1, 3)
    pages = []
    for _ in range(n_pages):
        n_lines = 1 if short else rng.randint(3, 8)
        lines = []
        for _ in range(n_lines):
            words = [rng.choice(_LATIN_WORDS) for _ in range(2 if short else rng.randint(5, 10))]
            line = " ".join(words)
            if rng.random() < 0.2:
                line += r" (nested) and \slash"
            lines.append(line)
        if short:
            lines = [lines[0][:30]]
        pages.append(lines)
    data = build_pdf(pages, rng, flate=rng.random() < 0.5)
    return base64.b64encode(data).decode("ascii")


def build_scanned_pdf(pages_text: list[str], scale: int = 3) -> bytes:
    """Spec-valid "scanned" PDF: each page is a FlateDecode /DeviceGray
    8-bit image XObject rendered from `pages_text` with the engine's
    bitmap font — NO text layer, so the P3 >50-char gate routes it to the
    OCR fallback (S5; reference text_extractor.py:575-610).

    Page text must already be charset-normalized (kernels.ocr
    normalize_to_charset) for an exact OCR roundtrip."""
    from advanced_text_extraction_spark.kernels.ocr import render_page

    objs: list[bytes] = []
    n = len(pages_text)
    kids = " ".join(f"{3 + 3 * i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for i, text in enumerate(pages_text):
        page_num = 3 + 3 * i
        img_num, content_num = page_num + 1, page_num + 2
        arr = render_page(text, scale=scale)
        h, w = arr.shape
        comp = zlib.compress(arr.tobytes())
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_num} 0 R /Resources << /XObject "
            f"<< /Im0 {img_num} 0 R >> >> >>".encode())
        objs.append(
            f"<< /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
            f"/Filter /FlateDecode /Length {len(comp)} >>\nstream\n".encode()
            + comp + b"\nendstream")
        draw = f"q {w} 0 0 {h} 72 {720 - h} cm /Im0 Do Q".encode()
        objs.append(f"<< /Length {len(draw)} >>\nstream\n".encode()
                    + draw + b"\nendstream")
    return _emit_pdf(objs)


def gen_scanned_pdf_payload(rng: random.Random) -> tuple[str, str]:
    """(base64 payload, expected OCR text) for a scanned PDF."""
    from advanced_text_extraction_spark.kernels.ocr import \
        normalize_to_charset

    pages = []
    for _ in range(rng.randint(1, 2)):
        words = [rng.choice(_LATIN_WORDS) for _ in range(rng.randint(4, 8))]
        pages.append(normalize_to_charset(" ".join(words)))
    data = build_scanned_pdf(pages, scale=3)
    return base64.b64encode(data).decode("ascii"), "\n\n".join(pages)


# --------------------------------------------------------------------------
# office payloads (OOXML zips — SURVEY §2.1 S6/S7/S8)
# --------------------------------------------------------------------------

_XML_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]


def _xesc(s: str) -> str:
    for a, b in _XML_ESCAPES:
        s = s.replace(a, b)
    return s


def _ooxml_zip(parts: dict[str, str]) -> str:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in parts.items():
            zf.writestr(name, content)
    return base64.b64encode(buf.getvalue()).decode("ascii")


_W_NS = ('xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/'
         '2006/main"')
_S_NS = ('xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
         'relationships"')
_P_NS = ('xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/'
         'main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
         '2006/relationships" xmlns:a="http://schemas.openxmlformats.org/'
         'drawingml/2006/main"')
_RELS_NS = ('xmlns="http://schemas.openxmlformats.org/package/2006/'
            'relationships"')


def gen_docx_payload(rng: random.Random) -> str:
    lang = rng.choice(list(_VOCAB))
    paras = [_sentence(rng, lang, rng.randint(5, 12))
             for _ in range(rng.randint(1, 4))]
    if rng.random() < 0.3:
        paras.insert(rng.randrange(len(paras) + 1), "   ")  # dropped: blank
    body = "".join(
        f"<w:p><w:r><w:t xml:space=\"preserve\">{_xesc(p)}</w:t></w:r></w:p>"
        for p in paras)
    if rng.random() < 0.5:  # a table — cells joined ' | ' downstream
        rows = []
        for _ in range(rng.randint(1, 3)):
            cells = "".join(
                f"<w:tc><w:p><w:r><w:t>{_xesc(rng.choice(_LATIN_WORDS))}"
                f"</w:t></w:r></w:p></w:tc>"
                for _ in range(rng.randint(2, 4)))
            rows.append(f"<w:tr>{cells}</w:tr>")
        body += f"<w:tbl>{''.join(rows)}</w:tbl>"
    doc = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f"<w:document {_W_NS}><w:body>{body}</w:body></w:document>")
    return _ooxml_zip({
        "[Content_Types].xml": '<?xml version="1.0"?><Types/>',
        "word/document.xml": doc,
    })


def gen_xlsx_payload(rng: random.Random) -> str:
    n_sheets = rng.randint(1, 3)
    shared: list[str] = []
    sheets_xml: dict[str, str] = {}
    wb_sheets, rels = [], []
    for s in range(1, n_sheets + 1):
        empty = s == n_sheets and n_sheets > 1 and rng.random() < 0.3
        rows_xml = []
        if not empty:
            for r in range(1, rng.randint(2, 5)):
                cells = []
                for c in range(rng.randint(1, 4)):
                    if rng.random() < 0.5:  # shared string cell
                        shared.append(rng.choice(_LATIN_WORDS))
                        cells.append(f'<c t="s"><v>{len(shared) - 1}</v></c>')
                    elif rng.random() < 0.5:  # integer
                        cells.append(f"<c><v>{rng.randint(0, 999)}</v></c>")
                    else:  # decimal
                        cells.append(
                            f"<c><v>{rng.randint(1, 99)}.{rng.randint(1, 9)}</v></c>")
                rows_xml.append(f"<row>{''.join(cells)}</row>")
        sheets_xml[f"xl/worksheets/sheet{s}.xml"] = (
            f'<?xml version="1.0"?><worksheet {_S_NS}>'
            f"<sheetData>{''.join(rows_xml)}</sheetData></worksheet>")
        wb_sheets.append(
            f'<sheet name="Data{s}" sheetId="{s}" r:id="rId{s}"/>')
        rels.append(f'<Relationship Id="rId{s}" Type="t" '
                    f'Target="worksheets/sheet{s}.xml"/>')
    parts = {
        "[Content_Types].xml": '<?xml version="1.0"?><Types/>',
        "xl/workbook.xml": (
            f'<?xml version="1.0"?><workbook {_S_NS}>'
            f"<sheets>{''.join(wb_sheets)}</sheets></workbook>"),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0"?><Relationships {_RELS_NS}>'
            f"{''.join(rels)}</Relationships>"),
        **sheets_xml,
    }
    if shared:
        parts["xl/sharedStrings.xml"] = (
            f'<?xml version="1.0"?><sst {_S_NS.split(" xmlns:r")[0]}>'
            + "".join(f"<si><t>{_xesc(t)}</t></si>" for t in shared)
            + "</sst>")
    return _ooxml_zip(parts)


def gen_pptx_payload(rng: random.Random) -> str:
    lang = rng.choice(list(_VOCAB))
    n_slides = rng.randint(1, 3)
    slide_parts: dict[str, str] = {}
    sld_ids, rels = [], []
    for s in range(1, n_slides + 1):
        empty = n_slides > 1 and s == 2 and rng.random() < 0.3
        shapes = []
        if not empty:
            for _ in range(rng.randint(1, 3)):
                paras = "".join(
                    f"<a:p><a:r><a:t>{_xesc(_sentence(rng, lang, rng.randint(3, 8)))}"
                    f"</a:t></a:r></a:p>"
                    for _ in range(rng.randint(1, 2)))
                shapes.append(f"<p:sp><p:txBody>{paras}</p:txBody></p:sp>")
        slide_parts[f"ppt/slides/slide{s}.xml"] = (
            f'<?xml version="1.0"?><p:sld {_P_NS}><p:cSld><p:spTree>'
            f"{''.join(shapes)}</p:spTree></p:cSld></p:sld>")
        sld_ids.append(f'<p:sldId id="{255 + s}" r:id="rId{s}"/>')
        rels.append(f'<Relationship Id="rId{s}" Type="t" '
                    f'Target="slides/slide{s}.xml"/>')
    return _ooxml_zip({
        "[Content_Types].xml": '<?xml version="1.0"?><Types/>',
        "ppt/presentation.xml": (
            f'<?xml version="1.0"?><p:presentation {_P_NS}>'
            f"<p:sldIdLst>{''.join(sld_ids)}</p:sldIdLst></p:presentation>"),
        "ppt/_rels/presentation.xml.rels": (
            f'<?xml version="1.0"?><Relationships {_RELS_NS}>'
            f"{''.join(rels)}</Relationships>"),
        **slide_parts,
    })


# --------------------------------------------------------------------------
# transcript table
# --------------------------------------------------------------------------

def gen_transcripts(n_turns: int = 2000, n_convs: int = 50,
                    seed: int = 42) -> pd.DataFrame:
    """FIXTURES.md §1: skewed conv sizes, shuffled rows, edge cases included."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)

    # conv-0 ≈ 20% of turns; remainder Zipf-ish over the other convs
    if n_convs == 1:
        # the Zipf weights below are over convs 1..n-1 — empty pvals
        # would crash multinomial for the single-conversation case
        sizes = {0: n_turns}
    else:
        sizes = {0: max(1, int(n_turns * 0.2))}
        weights = 1.0 / np.arange(1, n_convs)
        weights /= weights.sum()
        rest = n_turns - sizes[0]
        alloc = nrng.multinomial(rest, weights)
        for c in range(1, n_convs):
            sizes[c] = int(alloc[c - 1])

    rows: list[dict] = []
    for c in range(n_convs):
        for t in range(sizes[c]):
            role = ROLES[t % 3]
            r = rng.random()
            if r < 0.62:
                payload = gen_plain(rng)
            elif r < 0.86:
                payload = gen_html(rng)
            elif r < 0.91:
                payload = gen_pdf_payload(rng)
            elif r < 0.94:
                payload = gen_docx_payload(rng)
            elif r < 0.97:
                payload = gen_xlsx_payload(rng)
            else:
                payload = gen_pptx_payload(rng)
            rows.append({
                "conv_id": f"conv-{c}",
                "turn_idx": t,
                "role": role,
                "text": payload,
                "tool": rng.choice(TOOLS) if role == "tool" else None,
                "ts": BASE_TS + timedelta(minutes=t),
            })

    # FIXTURES.md §3 edge cases appended to conv-1's tail
    base = sizes.get(1, 0)
    edge = [
        "",                                    # empty payload
        " \t \n  ",                            # whitespace-only
        gen_html(rng, all_boilerplate=True),   # all-chrome page → ''
        gen_html(rng, mismatched=True),        # unclosed tags
        "JVBE" + "RiBicm9rZW4",                # pdf magic, broken base64/magic
        gen_pdf_payload(rng, short=True),      # short text layer (P3 gate)
        "UEsDB" + "%%not-base64%%",            # zip magic, broken base64
        _ooxml_zip({"other/thing.xml": "<x/>"}),  # zip but not OOXML → error
    ]
    for j, payload in enumerate(edge):
        rows.append({
            "conv_id": "conv-1", "turn_idx": base + j,
            "role": ROLES[(base + j) % 3], "text": payload,
            "tool": None, "ts": BASE_TS + timedelta(minutes=base + j),
        })
    # exact duplicate rows (dedupe target, reference analog cli.py:430)
    rows.append(dict(rows[0]))
    rows.append(dict(rows[1]))

    rng.shuffle(rows)  # force the order-restore window (SURVEY §2.4 W3)
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS)
    df["ts"] = df["ts"].astype("datetime64[us, UTC]")
    return df


def write_transcripts_parquet(path: str, n_turns: int = 2000,
                              n_convs: int = 50, seed: int = 42) -> str:
    df = gen_transcripts(n_turns, n_convs, seed)
    df.to_parquet(path, index=False)
    return path
