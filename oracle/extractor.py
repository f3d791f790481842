"""Single-node oracle: the executable spec of SPEC.md, minting golden
outputs for the pytest equality gate (SURVEY.md §5.2).

Deliberately implemented with a DIFFERENT structure from the engine
kernels (`advanced_text_extraction_spark/kernels/`): HTML via a
materialized node tree + recursive walk (the engine streams), PDF via a
separate recursive-descent reader. The engine never imports this module —
equality between the two is a real cross-check of the SPEC, per the
north-rule gate "per-turn text equality under stable turn ordering".

Reference-semantics citations live in SPEC.md; key anchors:
pages/blocks joined '\\n\\n' (/root/reference/text_extractor.py:573),
>50-char text-layer gate (/root/reference/text_extractor.py:501-507),
confidence constants (/root/reference/text_extractor.py:511,639,945),
'unknown' language fallback (/root/reference/text_extractor.py:1076-1084).
"""

from __future__ import annotations

import base64
import binascii
import html as _html
import re
import unicodedata
import zlib
from dataclasses import dataclass, field
from html.parser import HTMLParser

MAX_PAYLOAD_CHARS = 2_000_000
EXTRACTOR_VERSION = "ate-spark/0.1"

# ---------------------------------------------------------------------------
# normalization (SPEC.md §2) — independent implementation
# ---------------------------------------------------------------------------

_ZW_RE = re.compile("[\u200b\u200c\u200d\ufeff]")


def _norm_plain(s: str) -> str:
    s = unicodedata.normalize("NFC", s)
    s = _ZW_RE.sub("", s)
    s = re.sub("\r\n?", "\n", s)
    s = re.sub("[ \t ]+", " ", s)
    s = re.sub(" *\n *", "\n", s)
    s = re.sub("\n\n\n+", "\n\n", s)
    return s.strip()


def _norm_inline(s: str) -> str:
    s = unicodedata.normalize("NFC", s)
    s = _ZW_RE.sub("", s)
    return re.sub(r"\s+", " ", s, flags=re.UNICODE).strip()


# ---------------------------------------------------------------------------
# language id (SPEC.md §5) — independent implementation
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "de": set("der die das und ist nicht ein eine mit auf sich auch werden "
              "wird bei nach aber aus durch dem".split()),
    "en": set("the and is are was were this that with for have has not you "
              "they from but what all can".split()),
    "es": set("el los las una por con para como pero más este esta ser hay "
              "muy sin sobre también hasta donde".split()),
    "fr": set("le les des une est dans qui pas sur vous nous avec pour "
              "cette mais ont aux ses fait aussi".split()),
    "id": set("yang dan dengan untuk dari ini itu tidak akan pada juga "
              "adalah bisa sudah telah".split()),
    "it": set("di che per sono della nel alla gli anche dopo questo quando "
              "essere stato ogni".split()),
    "nl": set("het van een voor niet zijn hebben wordt naar ook deze onze "
              "hun maar nog".split()),
    "pl": set("nie jest jak przez tylko jego bardzo jako oraz ale przy gdy "
              "czy lub także".split()),
    "pt": set("um uma foi dos ela ele seu sua pelo isso quem depois apenas "
              "ainda onde".split()),
    "sv": set("och att det som av den inte har ett om man efter för eller "
              "mycket".split()),
    "tr": set("bir ve bu için ile olarak daha sonra kadar gibi ancak olan "
              "her ama değil".split()),
    "vi": set("của không người trong cũng những việc một này khi nhưng với "
              "làm năm theo".split()),
    "ro": set("sunt pentru acest aceasta dintre fiecare foarte atunci numai "
              "acum către".split()),
    "cs": set("jsou jsem bylo tento tato pouze velmi nebo proto aby mezi "
              "podle".split()),
    "da": set("hvad hvordan hvilket noget meget være bliver hvis derfor "
              "ikke denne".split()),
    "fi": set("mutta kanssa jossa kuitenkin ovat voidaan olla niin myös "
              "kun jotka".split()),
    "hu": set("hogy nem egy volt mint csak vagy azonban minden ezek még "
              "már".split()),
}
# non-Latin scripts: one marker per character inside the language's core
# Unicode block(s); Japanese counts kana here and adds the Han tally when
# kana >= 2 (SPEC.md §5 — Japanese prose is mostly kanji, Chinese has no
# kana)
_LANG_SCRIPTS = {
    "ar": "؀-ۿ",
    "el": "Ͱ-Ͽ",
    "he": "֐-׿",
    "hi": "ऀ-ॿ",
    "ja": "぀-ヿ",
    "ko": "ᄀ-ᇿ가-힯",
    "ru": "Ѐ-ӿ",
    "th": "฀-๿",
    "zh": "一-鿿",
}
_WORD_RE = re.compile(r"[a-zA-ZÀ-ɏḀ-ỿ]+")


def _lang(text: str) -> str:
    if not text:
        return "unknown"
    words = _WORD_RE.findall(text.lower())
    scores = {
        code: sum(w in markers for w in words)
        for code, markers in _LANG_MARKERS.items()
    }
    for code, cls in _LANG_SCRIPTS.items():
        scores[code] = len(re.findall(f"[{cls}]", text))
    if scores["ja"] >= 2:
        scores["ja"] += scores["zh"]
    best = max(sorted(scores), key=lambda c: scores[c])
    return best if scores[best] >= 2 else "unknown"


# ---------------------------------------------------------------------------
# HTML (SPEC.md §3) — DOM-tree implementation
# ---------------------------------------------------------------------------

_EXCLUDE = {"script", "style", "head", "title", "noscript", "template",
            "svg", "iframe", "object", "embed"}
_CHROME_TAGS = {"nav", "header", "footer", "aside"}
_BLOCKS = set("address article aside blockquote body button canvas caption dd "
              "div dl dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 "
              "h6 header hr html li main nav ol option p pre section table "
              "tbody td tfoot th thead tr ul".split())
_VOIDS = set("br hr img input meta link area base col embed source track wbr".split())
_CHROME_ATTR = re.compile(
    r"(?:^|[\s_-])(nav|menu|header|footer|sidebar|cookie|banner|related|promo"
    r"|ads?|advert|share|social|breadcrumbs?|popup|modal)(?:$|[\s_-])", re.I)


@dataclass
class _Node:
    tag: str  # '' for text nodes
    chrome: bool = False
    exclude: bool = False
    text: str = ""          # decoded text (text nodes only)
    src: tuple[int, int] = (0, 0)
    kids: list["_Node"] = field(default_factory=list)


class _TreeBuilder(HTMLParser):
    def __init__(self, raw: str) -> None:
        super().__init__(convert_charrefs=False)
        self.root = _Node("#root")
        self.open: list[_Node] = [self.root]
        self.starts = [0] + [m.end() for m in re.finditer("\n", raw)]

    def _pos(self) -> int:
        ln, col = self.getpos()
        return self.starts[ln - 1] + col

    def _text(self, decoded: str, raw_len: int) -> None:
        p = self._pos()
        self.open[-1].kids.append(_Node("", text=decoded, src=(p, p + raw_len)))

    def handle_starttag(self, tag, attrs):
        if tag in _VOIDS:
            if tag == "br":
                self.open[-1].kids.append(_Node("", text=" ", src=(-2, -2)))
            if tag in _BLOCKS:
                self.open[-1].kids.append(_Node(tag))
            return
        attr_blob = " ".join(v for k, v in attrs if k in ("class", "id") and v)
        node = _Node(tag,
                     chrome=tag in _CHROME_TAGS or bool(_CHROME_ATTR.search(attr_blob)),
                     exclude=tag in _EXCLUDE)
        self.open[-1].kids.append(node)
        self.open.append(node)

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            self.open[-1].kids.append(_Node("", text=" ", src=(-2, -2)))
        elif tag in _BLOCKS:
            self.open[-1].kids.append(_Node(tag))

    def handle_endtag(self, tag):
        if tag in _VOIDS:
            return
        if tag in _BLOCKS:
            # a block END event is a flush boundary even when the tag was
            # never opened (CDATA-swallowed or stray close) — SPEC.md §3
            self.open[-1].kids.append(_Node("#flush"))
        for i in range(len(self.open) - 1, 0, -1):
            if self.open[i].tag == tag:
                del self.open[i:]
                break

    def handle_data(self, data):
        self._text(data, len(data))

    def handle_entityref(self, name):
        self._text(_html.unescape(f"&{name};"), len(name) + 2)

    def handle_charref(self, name):
        # a surrogate code point decodes to U+FFFD (HTML5; html.unescape)
        try:
            cp = int(name[1:], 16) if name[0] in "xX" else int(name)
            decoded = "\ufffd" if 0xD800 <= cp <= 0xDFFF else chr(cp)
        except (ValueError, OverflowError):
            decoded = ""
        self._text(decoded, len(name) + 3)


def _html_blocks(raw: str):
    """Recursive walk → flat block list [(text, words, link_words, s0, s1, chrome)]."""
    builder = _TreeBuilder(raw)
    builder.feed(raw)
    builder.close()

    blocks: list[tuple[str, int, int, int, int, bool]] = []
    cur: dict = {"parts": [], "w": 0, "lw": 0, "s0": -1, "s1": -1, "ch": False}

    def flush():
        if cur["parts"]:
            text = _norm_inline("".join(cur["parts"]))
            if text:
                blocks.append((text, cur["w"], cur["lw"], cur["s0"], cur["s1"],
                               cur["ch"]))
        cur.update(parts=[], w=0, lw=0, s0=-1, s1=-1, ch=False)

    def walk(node: _Node, chrome: int, anchor: int):
        for kid in node.kids:
            if kid.tag == "" :
                if not kid.text:
                    continue
                if kid.src != (-2, -2):
                    if cur["s0"] < 0:
                        cur["s0"] = kid.src[0]
                    cur["s1"] = kid.src[1]
                cur["parts"].append(kid.text)
                n = len(kid.text.split())
                cur["w"] += n
                if anchor:
                    cur["lw"] += n
                if chrome:
                    cur["ch"] = True
                continue
            if kid.tag == "#flush":
                flush()
                continue
            if kid.exclude:
                continue
            # flush on the OPEN event only; the close event is the explicit
            # '#flush' marker recorded by handle_endtag (an implicitly
            # closed block never fires a close event — SPEC.md §3)
            if kid.tag in _BLOCKS:
                flush()
            walk(kid, chrome + kid.chrome, anchor + (kid.tag == "a"))

    walk(builder.root, 0, 0)
    flush()
    return blocks


def _extract_html(raw: str):
    kept, spans, off = [], [], 0
    for text, w, lw, s0, s1, chrome in _html_blocks(raw):
        if chrome or 3 * lw > w:
            continue
        if kept:
            off += 2
        spans.append((len(kept), off, off + len(text), s0, s1))
        off += len(text)
        kept.append(text)
    return "\n\n".join(kept), spans


# ---------------------------------------------------------------------------
# PDF (SPEC.md §4) — independent reader
# ---------------------------------------------------------------------------

def _pdf_objects(b: bytes):
    objs = {}
    i = 0
    pat = re.compile(rb"(\d+)\s+\d+\s+obj\b")
    while (m := pat.search(b, i)) is not None:
        num = int(m.group(1))
        j = m.end()
        sm = re.compile(rb"stream\r?\n").search(b, j)
        eo = b.find(b"endobj", j)
        if sm and (eo < 0 or sm.start() < eo):
            head = b[j:sm.start()]
            lm = re.search(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)", head)
            if lm:
                s0, s1 = sm.end(), sm.end() + int(lm.group(1))
            else:
                s0 = sm.end()
                s1 = b.find(b"endstream", s0)
                if s1 < 0:
                    raise ValueError("unterminated stream")
                while s1 > s0 and b[s1 - 1 : s1] in (b"\n", b"\r"):
                    s1 -= 1
            body = b[s0:s1]
            if b"/FlateDecode" in head:
                body = zlib.decompress(body)
            objs[num] = (head, body)
            eo = b.find(b"endobj", s1)
            i = len(b) if eo < 0 else eo + 6
        else:
            if eo < 0:
                raise ValueError("unterminated object")
            objs[num] = (b[j:eo], None)
            i = eo + 6
    if not objs:
        raise ValueError("no objects")
    return objs


def _pdf_pages(objs):
    # depth-first page-tree walk (nested /Pages nodes are spec-valid —
    # a flat 'last /Kids wins' read drops whole subtrees); /Contents
    # may be a single ref or the array form, whose streams concatenate
    page_heads, kids_of = {}, {}
    for num, (head, _) in objs.items():
        if re.search(rb"/Type\s*/Pages\b", head):
            km = re.search(rb"/Kids\s*\[(.*?)\]", head, re.DOTALL)
            kids_of[num] = [int(x) for x in
                            re.findall(rb"(\d+)\s+\d+\s+R", km.group(1))] \
                if km else []
        elif re.search(rb"/Type\s*/Page\b(?!s)", head):
            page_heads[num] = head
    if not page_heads:
        raise ValueError("no pages")
    listed = {k for kk in kids_of.values() for k in kk}
    roots = sorted(n for n in kids_of if n not in listed)
    order, seen, stack = [], set(), list(reversed(roots))
    while stack:
        n = stack.pop()
        if n in seen:
            continue  # malformed cycle / duplicate ref
        seen.add(n)
        if n in page_heads:
            order.append(n)
        else:
            stack.extend(reversed(kids_of.get(n, [])))
    streams = []
    for k in order or sorted(page_heads):
        head = page_heads[k]
        am = re.search(rb"/Contents\s*\[((?:\s*\d+\s+\d+\s+R)*)\s*\]", head)
        if am:
            refs = [int(x) for x in
                    re.findall(rb"(\d+)\s+\d+\s+R", am.group(1))]
        else:
            cm = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", head)
            refs = [int(cm.group(1))] if cm else []
        if refs:
            streams.append(b"\n".join(objs[r][1] for r in refs))
    if not streams:
        raise ValueError("no pages")
    return streams


def _pdf_string(b: bytes, i: int):
    """Literal string at b[i]=='(' → (text, next_i)."""
    out, depth, i, n = [], 1, i + 1, len(b)
    esc = {0x6E: "\n", 0x72: "\r", 0x74: "\t", 0x62: "\b", 0x66: "\f",
           0x28: "(", 0x29: ")", 0x5C: "\\"}
    while i < n:
        c = b[i]
        if c == 0x5C and i + 1 < n:
            nxt = b[i + 1]
            if nxt in esc:
                out.append(esc[nxt]); i += 2
            elif 0x30 <= nxt <= 0x37:
                j = i + 1
                while j < min(i + 4, n) and 0x30 <= b[j] <= 0x37:
                    j += 1
                out.append(chr(int(b[i + 1 : j], 8) & 0xFF)); i = j
            elif nxt in (0x0A, 0x0D):
                i += 2
                if nxt == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:
                out.append(chr(nxt)); i += 2
        elif c == 0x28:
            depth += 1; out.append("("); i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")"); i += 1
        else:
            out.append(chr(c)); i += 1
    raise ValueError("unterminated literal")


_TOK = re.compile(
    rb"\s+|%[^\n]*|<<|>>|\[|\]|/[^\s()<>\[\]{}/%]*"
    rb"|[-+]?(?:\d+\.?\d*|\.\d+)"  # ISO 32000 §7.3.3: '10.' is a real
    rb"|[A-Za-z'\"*]+|<[0-9A-Fa-f\s]*>|\(|."
)


def _pdf_runs(stream: bytes):
    """Interpret text operators → [(tx, ty, text)]."""
    runs, stack, arrs = [], [], []
    tx = ty = tl = 0.0
    i, n = 0, len(stream)

    def push(v):
        (arrs[-1] if arrs else stack).append(v)

    while i < n:
        m = _TOK.match(stream, i)
        if not m:
            break
        tok = m.group(0)
        i = m.end()
        if tok.isspace() or tok.startswith(b"%"):
            continue
        if tok == b"(":
            s, i = _pdf_string(stream, m.start())
            push(("s", s))
        elif tok.startswith(b"<") and tok not in (b"<<",):
            if tok == b"<<" or tok == b">>":
                continue
            hx = re.sub(rb"\s", b"", tok[1:-1])
            if len(hx) % 2:
                hx += b"0"
            push(("s", bytes.fromhex(hx.decode()).decode("latin-1")))
        elif tok in (b"<<", b">>"):
            continue
        elif tok == b"[":
            arrs.append([])
        elif tok == b"]":
            a = arrs.pop()
            push(("a", a))
        elif tok.startswith(b"/"):
            push(("n", tok.decode("latin-1")))
        elif re.fullmatch(rb"[-+]?(?:\d+\.?\d*|\.\d+)", tok):
            # ISO 32000 §7.3.3: reals may end with the dot ('10.')
            push(("f", float(tok)))
        else:
            op = tok.decode("latin-1")
            if op == "BT":
                tx = ty = 0.0
            elif op == "Td" and len(stack) >= 2:
                tx += stack[-2][1]; ty += stack[-1][1]
            elif op == "TD" and len(stack) >= 2:
                tl = -stack[-1][1]; tx += stack[-2][1]; ty += stack[-1][1]
            elif op == "Tm" and len(stack) >= 6:
                tx, ty = stack[-2][1], stack[-1][1]
            elif op == "TL" and stack:
                tl = stack[-1][1]
            elif op == "T*":
                ty -= tl
            elif op == "Tj" and stack and stack[-1][0] == "s":
                if stack[-1][1]:
                    runs.append((tx, ty, stack[-1][1]))
            elif op == "TJ" and stack and stack[-1][0] == "a":
                buf = []
                for kind, v in stack[-1][1]:
                    if kind == "s":
                        buf.append(v)
                    elif kind == "f" and v <= -180.0:
                        buf.append(" ")
                s = "".join(buf)
                if s:
                    runs.append((tx, ty, s))
            elif op == "'" and stack and stack[-1][0] == "s":
                ty -= tl
                if stack[-1][1]:
                    runs.append((tx, ty, stack[-1][1]))
            elif op == '"' and len(stack) >= 3 and stack[-1][0] == "s":
                ty -= tl
                if stack[-1][1]:
                    runs.append((tx, ty, stack[-1][1]))
            stack.clear()
    return runs


def _pdf_page_text(stream: bytes) -> str:
    by_line: dict[float, list[tuple[float, str]]] = {}
    for tx, ty, s in _pdf_runs(stream):
        by_line.setdefault(round(ty, 1), []).append((tx, s))
    lines = []
    for y in sorted(by_line, reverse=True):
        parts = [s.strip() for _, s in sorted(by_line[y], key=lambda t: t[0])]
        line = " ".join(p for p in parts if p)
        if line:
            lines.append(line)
    return unicodedata.normalize("NFC", "\n".join(lines))


def _extract_pdf(data: bytes):
    texts = [_pdf_page_text(s) for s in _pdf_pages(_pdf_objects(data))]
    n_pages = len(texts)
    spans, off = [], 0
    for p, t in enumerate(texts):
        if p > 0:
            off += 2
        if t:
            spans.append((p, off, off + len(t), -1, -1))
        off += len(t)
    joined = "\n\n".join(texts)
    return joined, spans, ("ok" if len(joined.strip()) > 50 else "short"), n_pages


# ---------------------------------------------------------------------------
# office documents (SPEC.md §4b / SURVEY §2.1 S6-S8) — regex-based XML
# reading, deliberately different from the engine's ElementTree walker
# ---------------------------------------------------------------------------

_XENT = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"',
         "&apos;": "'"}


def _xml_unescape(s: str) -> str:
    return re.sub("|".join(_XENT), lambda m: _XENT[m.group(0)], s)


_WPIECE_RE = re.compile(
    r"<w:t[^>]*>(.*?)</w:t>|<w:t[^>]*/>|<w:(tab)\s*/>|<w:(br|cr)\s*/>",
    re.S)


def _w_text(fragment: str) -> str:
    """python-docx run-text semantics over a w:p fragment."""
    parts = []
    for m in _WPIECE_RE.finditer(fragment):
        if m.group(1) is not None:
            parts.append(_xml_unescape(m.group(1)))
        elif m.group(2):
            parts.append("\t")
        elif m.group(3):
            parts.append("\n")
    return "".join(parts)


def _office_docx(read) -> tuple[str, list[str], dict]:
    doc = read("word/document.xml").decode("utf-8")
    tables = re.findall(r"<w:tbl[\s>].*?</w:tbl>", doc, re.S)
    no_tbl = re.sub(r"<w:tbl[\s>].*?</w:tbl>", "", doc, flags=re.S)
    paragraphs = [
        t for t in (_w_text(p) for p in
                    re.findall(r"<w:p[\s>].*?</w:p>", no_tbl, re.S))
        if t.strip()
    ]
    rows: list[str] = []
    for tbl in tables:
        for tr in re.findall(r"<w:tr[\s>].*?</w:tr>|<w:tr>.*?</w:tr>",
                             tbl, re.S):
            cells = ["\n".join(_w_text(p) for p in
                               re.findall(r"<w:p[\s>].*?</w:p>", tc, re.S)
                               ).strip()
                     for tc in re.findall(r"<w:tc[\s>].*?</w:tc>|"
                                          r"<w:tc>.*?</w:tc>", tr, re.S)]
            line = " | ".join(cells)
            if line.strip():
                rows.append(line)
    text = "\n".join(paragraphs)
    if rows:
        text += "\n\nTables:\n" + "\n".join(rows)
    meta = {"paragraphs": str(len(paragraphs)), "tables": str(len(tables)),
            "file_type": "docx"}
    return text, paragraphs + rows, meta


def _office_sheet_list(read, wb_part: str, rels_part: str, tag: str,
                       base: str) -> list[tuple[str, str]]:
    wb = read(wb_part).decode("utf-8")
    rels = read(rels_part).decode("utf-8")
    rel_map = {}
    for el in re.findall(r"<Relationship\b[^>]*>", rels):
        rid = re.search(r'\bId="([^"]+)"', el)
        tgt = re.search(r'\bTarget="([^"]+)"', el)
        if rid and tgt:
            rel_map[rid.group(1)] = tgt.group(1)
    out = []
    for m in re.finditer(rf"<{tag}(?=[\s/>])[^>]*/?>", wb):
        el = m.group(0)
        name = re.search(r'name="([^"]*)"', el)
        rid = re.search(r'r:id="([^"]*)"', el)
        if rid is None or rid.group(1) not in rel_map:
            raise ValueError(f"bad {tag}: missing relationship")
        out.append((_xml_unescape(name.group(1)) if name else "",
                    base + "/" + rel_map[rid.group(1)]))
    return out


def _office_xlsx(read) -> tuple[str, list[str], dict]:
    try:
        sst = read("xl/sharedStrings.xml").decode("utf-8")
        shared = ["".join(_xml_unescape(t) for t in
                          re.findall(r"<t[^>]*>(.*?)</t>", si, re.S))
                  for si in re.findall(r"<si>(.*?)</si>", sst, re.S)]
    except KeyError:
        shared = []
    all_text: list[str] = []
    sections: list[str] = []
    total_cells = 0
    sheets = _office_sheet_list(read, "xl/workbook.xml",
                                "xl/_rels/workbook.xml.rels", "sheet", "xl")
    for name, part in sheets:
        ws = read(part).decode("utf-8")
        lines = [f"Sheet: {name}"]
        for row in re.findall(r"<row[^>]*>(.*?)</row>", ws, re.S):
            vals = []
            for cm in re.finditer(r"<c([^>]*)>(.*?)</c>|<c([^>]*)/>",
                                  row, re.S):
                attrs, body = cm.group(1) or cm.group(3) or "", cm.group(2) or ""
                tm = re.search(r't="([^"]*)"', attrs)
                ctype = tm.group(1) if tm else "n"
                if ctype == "inlineStr":
                    v = "".join(_xml_unescape(t) for t in
                                re.findall(r"<t[^>]*>(.*?)</t>", body, re.S))
                else:
                    vm = re.search(r"<v>(.*?)</v>", body, re.S)
                    if vm is None:
                        continue
                    raw_v = _xml_unescape(vm.group(1))
                    if ctype == "s":
                        v = shared[int(raw_v)]
                    elif ctype in ("str", "e"):
                        v = raw_v
                    elif ctype == "b":
                        v = str(raw_v.strip() not in ("0", "false", ""))
                    else:
                        f = float(raw_v)
                        v = str(int(f)) if f.is_integer() else str(f)
                vals.append(v)
                total_cells += 1
            if vals:
                lines.append(" | ".join(vals))
        if len(lines) > 1:
            all_text.extend(lines)
            all_text.append("")
            sections.append("\n".join(lines))
    meta = {"sheets": str(len(sheets)), "total_cells": str(total_cells),
            "file_type": "xlsx"}
    return "\n".join(all_text), sections, meta


def _office_pptx(read) -> tuple[str, list[str], dict]:
    slides = _office_sheet_list(read, "ppt/presentation.xml",
                                "ppt/_rels/presentation.xml.rels",
                                "p:sldId", "ppt")
    all_text: list[str] = []
    sections: list[str] = []
    n_slides = 0
    for i, (_, part) in enumerate(slides, 1):
        sld = read(part).decode("utf-8")
        lines = [f"Slide {i}:"]
        for sp in re.findall(r"<p:sp>(.*?)</p:sp>", sld, re.S):
            tx = re.search(r"<p:txBody>(.*?)</p:txBody>", sp, re.S)
            if tx is None:
                continue
            paras = []
            for p in re.findall(r"<a:p>(.*?)</a:p>", tx.group(1), re.S):
                runs = []
                for m in re.finditer(r"<a:t[^>]*>(.*?)</a:t>|<a:br\s*/>",
                                     p, re.S):
                    runs.append("\n" if m.group(1) is None
                                else _xml_unescape(m.group(1)))
                paras.append("".join(runs))
            t = "\n".join(paras)
            if t.strip():
                lines.append(t)
        if len(lines) > 1:
            all_text.extend(lines)
            all_text.append("")
            sections.append("\n".join(lines))
            n_slides += 1
    meta = {"slides": str(n_slides), "file_type": "pptx"}
    return "\n".join(all_text), sections, meta


def _extract_office(blob: bytes):
    """(kind, text, spans, meta) — dispatch by OOXML part name."""
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        names = set(zf.namelist())
        read = zf.read
        if "word/document.xml" in names:
            kind, (text, blocks, meta) = "docx", _office_docx(read)
        elif "xl/workbook.xml" in names:
            kind, (text, blocks, meta) = "excel", _office_xlsx(read)
        elif "ppt/presentation.xml" in names:
            kind, (text, blocks, meta) = "powerpoint", _office_pptx(read)
        else:
            raise ValueError("unsupported office document type")
    text = unicodedata.normalize("NFC", text)
    spans = []
    pos = 0
    for i, b in enumerate(unicodedata.normalize("NFC", x) for x in blocks):
        if not b:
            continue
        start = text.find(b, pos)
        if start < 0:
            continue
        spans.append((i, start, start + len(b), -1, -1))
        pos = start + len(b)
    return kind, text, spans, meta


# ---------------------------------------------------------------------------
# dispatch (SPEC.md §1 + §6)
# ---------------------------------------------------------------------------

_HTML_PROBE = re.compile(
    r"<(!doctype\s+html|html|head|body|div|p|br|h[1-6]|ul|ol|li|table|a|span"
    r"|nav|footer|header|article|section|main)\b[^>]*>", re.I | re.S)


def extract_payload(payload: str) -> dict:
    """Oracle extraction of ONE payload → SPEC.md §6 row dict."""
    raw = payload if payload is not None else ""
    truncated = len(raw) > MAX_PAYLOAD_CHARS
    if truncated:
        raw = raw[:MAX_PAYLOAD_CHARS]
    t = raw.strip()
    meta = {"raw_len": str(len(raw))}
    if truncated:
        meta["truncated"] = "true"
    out = dict(content_type="text", extracted_text="", spans=[],
               confidence=1.0, language="unknown", status="ok", error="",
               metadata=meta, extractor_version=EXTRACTOR_VERSION)

    if t.startswith("JVBE"):
        out["content_type"] = "pdf"
        out["confidence"] = 0.95
        try:
            blob = base64.b64decode(re.sub(r"\s+", "", t), validate=True)
            if not blob.startswith(b"%PDF"):
                raise ValueError("base64 payload lacks %PDF magic")
            text, spans, gate, n_pages = _extract_pdf(blob)
            out.update(extracted_text=text, spans=spans)
            meta["text_layer"] = gate
            meta["n_pages"] = str(n_pages)
        except (ValueError, binascii.Error, zlib.error, IndexError, KeyError) as e:
            out.update(status="error", error=str(e) or type(e).__name__)
    elif t.startswith("UEsDB"):
        out["content_type"] = "office"
        out["confidence"] = 0.95  # structured-document tier (:639,689,734)
        try:
            blob = base64.b64decode(re.sub(r"\s+", "", t), validate=True)
            if not blob.startswith(b"PK\x03\x04"):
                raise ValueError("base64 payload lacks zip magic")
            kind, text, spans, ometa = _extract_office(blob)
            out["content_type"] = kind
            out.update(extracted_text=text, spans=spans)
            meta.update(ometa)
        except Exception as e:  # noqa: BLE001 — failure-as-data
            out.update(status="error", error=str(e) or type(e).__name__)
    elif t and _HTML_PROBE.search(t):
        out["content_type"] = "html"
        out["confidence"] = 0.95
        try:  # html.parser rejects some marked sections
            text, spans = _extract_html(raw)
            out.update(extracted_text=text, spans=spans)
            meta["n_blocks"] = str(len(spans))
        except Exception as e:  # noqa: BLE001 — failure-as-data
            out.update(status="error", error=str(e) or type(e).__name__)
    else:
        text = _norm_plain(raw)
        out["extracted_text"] = text
        out["spans"] = [(0, 0, len(text), 0, len(raw))] if text else []
        meta["n_blocks"] = "1" if text else "0"
    out["language"] = _lang(out["extracted_text"])
    return out


def extract_table(df):
    """Oracle over a pandas transcripts frame → golden frame (deduped,
    sorted by (conv_id, turn_idx) — the stable-order contract)."""
    df = df.drop_duplicates(subset=["conv_id", "turn_idx"]).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    recs = []
    for row in df.itertuples(index=False):
        rec = extract_payload(row.text)
        rec.update(conv_id=row.conv_id, turn_idx=row.turn_idx, role=row.role,
                   tool=row.tool, ts=row.ts)
        recs.append(rec)
    import pandas as pd
    return pd.DataFrame(recs)
