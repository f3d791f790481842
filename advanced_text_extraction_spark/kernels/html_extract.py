"""HTML main-content extraction kernel (SPEC.md §3).

Boilerpipe/Readability-style boilerplate stripping: DOM event stream →
block segmentation → word-level link-density scoring + chrome-subtree
classification → kept blocks joined ``'\\n\\n'`` with char-span offsets
into both the extracted text and the raw markup.

The reference only *claims* HTML support (bs4/selenium imported but never
called — /root/reference/text_extractor.py:76-86, README.md:400); this tier
is the primary payload type mandated by BASELINE.json:north_star. The
``'\\n\\n'`` block-join contract mirrors the reference's page join
(/root/reference/text_extractor.py:573).

Implementation: a regex event scanner with ``html.parser``'s event
semantics (``convert_charrefs=False``, Python 3.11): data runs, start,
end and self-closing tags, entity and character references, each event
at its absolute offset in the raw markup, so spans stay exact without a
line table. One master pattern (``_EVENT_RE``) consumes the common
constructs in C; anything else (a tag it does not cover, an incomplete
construct, a marked section) goes through a port of the stdlib parser's
procedure for that construct, including its two passes: ``feed`` stops at
the first incomplete construct, ``close`` resumes there and turns the
rest into data. Where the stdlib searches from every unterminated
construct to the end of the input again, ``_Ends`` answers each search
for a closer from the last one, and past the last ``'>'`` no start tag
is scanned for its attributes; an end tag with no open element of its
name pops nothing without scanning the element stack. So it is one
pass, O(n): a run of unterminated comments, tags or marked sections, or
of unmatched end tags, costs what its length does. A marked section the
stdlib rejects raises its ``AssertionError``. No DOM tree is
materialized — this runs vectorized over Arrow batches in the extract
UDF.
"""

from __future__ import annotations

import html as _html
import re

from .normalize import normalize_inline

EXCLUDE_TAGS = frozenset(
    "script style head title noscript template svg iframe object embed".split()
)
CHROME_TAGS = frozenset("nav header footer aside".split())
BLOCK_TAGS = frozenset(
    "address article aside blockquote body button canvas caption dd div dl dt "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr html "
    "li main nav ol option p pre section table tbody td tfoot th thead tr ul".split()
)
VOID_TAGS = frozenset(
    "br hr img input meta link area base col embed source track wbr".split()
)
CHROME_ATTR_RE = re.compile(
    r"(?:^|[\s_-])(nav|menu|header|footer|sidebar|cookie|banner|related|promo"
    r"|ads?|advert|share|social|breadcrumbs?|popup|modal)(?:$|[\s_-])",
    re.IGNORECASE,
)
# html.parser's CDATA_CONTENT_ELEMENTS: raw text up to the close tag
_CDATA_TAGS = ("script", "style")

# -- the common constructs, one alternative each ---------------------------
# A start tag: the stdlib's tag-name class, then attributes separated by
# ASCII whitespace (ASCII names, an optional '=' and a quoted or bare
# value, with no whitespace around the '='). For this subset the stdlib
# finds the same tag end, name, attributes and '/>' form; any other tag
# fails here and takes the ported procedure. Possessive quantifiers keep
# a bare value from giving back a trailing '/' as a '/>' ending. The other
# alternatives are the stdlib's own end-tag and reference patterns, and a
# '<' or '&' it reads as text. Comments, declarations and processing
# instructions take the ported procedure: one search each, as in the
# stdlib, where a pattern would scan an unterminated one twice.
_EVENT_PATTERN = r"""
    (?P<data>[^&<]++)
  | (?P<start><(?P<tag>[a-zA-Z][^\t\n\r\f />\x00]*+)
     (?P<attrs>(?:[\t\n\r\f\x20]++[a-zA-Z_:][-a-zA-Z0-9_:.]*+
        (?:=(?:"[^"]*+"|'[^']*+'|[^\s"'=<>`]++))?)*+)
     [\t\n\r\f\x20]*+(?P<empty>/?)>)
  | </\s*(?P<end>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>
  | &\#(?P<charref>[0-9]++|[xX][0-9a-fA-F]++)(?:;|(?=[^0-9a-fA-F]))
  | &(?P<entityref>[a-zA-Z][-.a-zA-Z0-9]*)(?:;|(?=[^a-zA-Z0-9]))
  | (?P<lone><(?=[^a-zA-Z/!?])|&(?=[^a-zA-Z\#]))
"""
_EVENT_RE = re.compile(_EVENT_PATTERN, re.VERBOSE)
# past the last '>' no tag can end, and a start tag's name and attributes
# may run to the end of the input: the scanner leaves that alternative out
_TAIL_EVENT_RE = re.compile(
    _EVENT_PATTERN.replace("(?P<start><", "(?P<start>(?!)<"), re.VERBOSE)
(_DATA, _START, _END, _CHARREF, _ENTITYREF, _LONE) = (
    _EVENT_RE.groupindex[g]
    for g in ("data", "start", "end", "charref", "entityref", "lone"))
# an _EVENT_RE start tag whose attribute text lacks this has no class or
# id value, so its attributes are never parsed
_CLASS_OR_ID_RE = re.compile(r"(?:class|id)=", re.IGNORECASE)

# -- the stdlib parser's own patterns, for the ported procedures ----------
_TAGFIND = re.compile(r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*')
_ATTRFIND = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
# the stdlib's locatestarttagend_tolerant after the tag name, cut where
# _Ends memoizes it: before the attributes, then one attribute per match
# (its loop never gives one back, as nothing after it can fail), then the
# trailing whitespace
_LOCATE_BEFORE_ATTRS = re.compile(r"[\s/]*")
_LOCATE_ATTR = re.compile(r"""
    (?<=['"\s/])[^\s/>][^\s/=>]*      # attribute name
    (?:\s*=+\s*                       # value indicator
      (?:'[^']*'                       # LITA-enclosed value
        |"[^"]*"                       # LIT-enclosed value
        |(?!['"])[^>\s]*               # bare value
       )
      \s*                              # possibly followed by a space
     )?(?:\s|/(?!>))*
""", re.VERBOSE)
_SPACES = re.compile(r"\s*")
_COMMENTCLOSE = re.compile(r'--\s*>')
_DECLNAME = re.compile(r'[a-zA-Z][-_.a-zA-Z0-9]*\s*')
_MARKEDSECTIONCLOSE = re.compile(r']\s*]\s*>')
_MSMARKEDSECTIONCLOSE = re.compile(r']\s*>')
_CDATA_CLOSE = {t: re.compile(r'</\s*%s\s*>' % t, re.I) for t in _CDATA_TAGS}
# closers found by _Ends.search: of a bogus comment, end tag or
# incomplete construct, and of a tag name
_GT = re.compile(">")
_NAME_END = re.compile(r"[\t\n\r\f />\x00]")
# a NUL after a tag name that locatestarttagend_tolerant reads as an
# attribute
_NUL_ATTR = re.compile(r"(?<=['\"\s/])\x00")


class _Ends:
    """Where one input's constructs end, found without scanning a stretch
    of it twice for one closer.

    The stdlib parser searches from every unterminated construct to the
    end of the input again, so a run of them is quadratic. ``search``
    remembers, per pattern, where its last search started and what it
    found: that result answers every later search from at or after the
    start and not past the match (a failed search: no closer from there
    to the end). Start tags keep where the attribute loop ends per
    attribute, as one tag's attributes are often another's
    (``<a x=">" <a x=">" …``)."""

    def __init__(self, raw: str) -> None:
        self.raw = raw
        self.no_gt = raw.rfind(">") + 1  # no '>' from here to the end
        self._found: dict[re.Pattern, tuple] = {}
        self._after_attr: dict[int, int] = {}

    def search(self, pattern: re.Pattern, pos: int) -> re.Match | None:
        """``pattern.search(raw, pos)``."""
        lo, m = self._found.get(pattern, (len(self.raw) + 1, None))
        if lo <= pos and (m is None or pos <= m.start()):
            return m
        m = pattern.search(self.raw, pos)
        self._found[pattern] = pos, m
        return m

    def locate_start_tag(self, i: int) -> int:
        """Where the stdlib's locatestarttagend_tolerant ends on the start
        tag at ``i``, a '>' following it."""
        name_end = self.search(_NAME_END, i + 1).start()
        return self._attrs_end(
            _LOCATE_BEFORE_ATTRS.match(self.raw, name_end).end())

    def _attrs_end(self, p: int) -> int:
        """Where the attribute loop entered at ``p`` ends, its trailing
        whitespace included. A loop entered at one of another loop's
        attributes goes on as that one did, so each attribute keeps the
        end."""
        raw, ends = self.raw, self._after_attr
        seen = []
        while (j := ends.get(p)) is None:
            seen.append(p)
            m = _LOCATE_ATTR.match(raw, p)
            if m is None:
                j = _SPACES.match(raw, p).end()
                break
            p = m.end()
        for q in seen:
            ends[q] = j
        return j


def _start_tag_end(raw: str, i: int, ends: _Ends) -> int:
    """The stdlib's check for a whole start tag at ``raw[i] == '<'``: the
    tag's end offset, or -1 while it is incomplete."""
    if i >= ends.no_gt:
        # no '>' follows: the attribute loop then runs to the end of the
        # input or stops at an '=' before an unclosed quote, so the tag
        # is incomplete unless a NUL ends its name and starts no attribute
        m = ends.search(_NAME_END, i + 1)
        return (m.start() if m and m.group() == "\x00"
                and not _NUL_ATTR.match(raw, m.start()) else -1)
    j = ends.locate_start_tag(i)
    nxt = raw[j:j + 1]
    if nxt == ">":
        return j + 1
    if nxt == "/":
        return j + 2 if raw.startswith("/>", j) else -1
    if nxt == "" or nxt in ("abcdefghijklmnopqrstuvwxyz=/"
                            "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
        return -1
    return j if j > i else i + 1


def _scan_name(raw: str, i: int, declstartpos: int) -> tuple[str | None, int]:
    """The stdlib's name token of a marked section: ``(name, end)``, the
    end -1 while the input ends inside it."""
    if i == len(raw):
        return None, -1
    m = _DECLNAME.match(raw, i)
    if not m:
        raise AssertionError(
            "expected name token at %r" % raw[declstartpos:declstartpos + 20])
    s = m.group()
    if i + len(s) == len(raw):
        return None, -1
    return s.strip().lower(), m.end()


def _marked_section_end(raw: str, i: int, ends: _Ends) -> int:
    """``<![name ... ]]>`` (or the MS-Office ``]>`` form): its end, or -1
    while incomplete. Unknown names raise as the stdlib parser does."""
    name, j = _scan_name(raw, i + 3, i)
    if j < 0:
        return j
    if name in {"temp", "cdata", "ignore", "include", "rcdata"}:
        m = ends.search(_MARKEDSECTIONCLOSE, i + 3)
    elif name in {"if", "else", "endif"}:
        m = ends.search(_MSMARKEDSECTIONCLOSE, i + 3)
    else:
        raise AssertionError(
            "unknown status keyword %r in marked section" % raw[i + 3:j])
    return m.end() if m else -1


def _markup_end(raw: str, i: int, ends: _Ends) -> int:
    """End of the comment, declaration or processing instruction at
    ``raw[i:i+2] in ('<!', '<?')``, or -1 while it is incomplete."""
    if raw.startswith("<!--", i):
        m = ends.search(_COMMENTCLOSE, i + 4)
    elif raw.startswith("<![", i):
        return _marked_section_end(raw, i, ends)
    else:
        m = ends.search(_GT, i + 2)
    return m.end() if m else -1


def _charref_text(name: str) -> str:
    """A numeric reference's text: a surrogate code point decodes to
    U+FFFD (HTML5's rule, as ``html.unescape``), a value beyond U+10FFFF
    to nothing."""
    try:
        cp = int(name[1:], 16) if name[0] in "xX" else int(name)
        return "\ufffd" if 0xD800 <= cp <= 0xDFFF else chr(cp)
    except (ValueError, OverflowError):
        return ""


def _attrs_chrome(attrs: list[tuple[str, str | None]]) -> bool:
    return any(k in ("class", "id") and v and CHROME_ATTR_RE.search(v)
               for k, v in attrs)


def _parse_start_tag(raw: str, i: int, endpos: int
                     ) -> tuple[str, list[tuple[str, str | None]], str]:
    """The stdlib's reading of the whole start tag ``raw[i:endpos]``:
    ``(tag, attrs, tail)``; the tag is an element only when ``tail`` is
    ``'>'`` or ``'/>'`` (self-closing), else its text is data."""
    m = _TAGFIND.match(raw, i + 1)
    k = m.end()
    attrs: list[tuple[str, str | None]] = []
    while k < endpos:
        a = _ATTRFIND.match(raw, k)
        if not a:
            break
        name, rest, value = a.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = _html.unescape(value)
        attrs.append((name.lower(), value))
        k = a.end()
    return m.group(1).lower(), attrs, raw[k:endpos].strip()


def _end_tag_end(raw: str, i: int, ends: _Ends
                 ) -> tuple[str | None, int]:
    """The stdlib's reading of an end tag at ``raw[i:i+2] == '</'`` that
    ``_EVENT_RE`` did not match: ``(tag or None, end offset)``, the offset
    -1 while incomplete."""
    gt = ends.search(_GT, i + 1)
    if gt is None:
        return None, -1
    m = _TAGFIND.match(raw, i + 2)
    if not m:  # '</>', or a bogus comment up to the first '>'
        return None, gt.end()
    return m.group(1).lower(), gt.end()  # the name stops before it


def _html_blocks(raw: str) -> list[tuple[str, int, int]]:
    """Single-pass block segmenter with chrome / link-density accounting:
    the kept blocks as ``[(text, src_start, src_end)]``."""
    blocks: list[tuple[str, int, int]] = []
    # element stack entries: (tag, is_chrome, is_exclude), and how many
    # of them each tag name has: an end tag with none open pops nothing,
    # without a scan of the whole stack
    stack: list[tuple[str, bool, bool]] = []
    n_open: dict[str, int] = {}
    exclude_depth = chrome_depth = anchor_depth = 0
    # current block accumulator
    parts: list[str] = []
    link_words = 0
    chrome_hit = False
    src_start = src_end = -1
    # the raw-text element (script/style) whose close tag ends the text
    cdata: str | None = None

    def flush():
        nonlocal parts, link_words, chrome_hit, src_start, src_end
        if not parts:
            return
        # KEEP rule (SPEC.md §3): non-chrome and link density <= 1/3,
        # with words counted per text node; a block without link words
        # never needs its word count
        if not chrome_hit and (not link_words or 3 * link_words <= sum(
                len(p.split()) for p in parts)):
            text = normalize_inline("".join(parts))
            if text:
                blocks.append((text, src_start, src_end))
        parts = []
        link_words = 0
        chrome_hit = False
        src_start = src_end = -1

    def start_tag(tag, empty, attrs):
        """A start tag (``empty``: self-closing) and its attributes."""
        nonlocal exclude_depth, chrome_depth, anchor_depth, cdata
        if empty or tag in VOID_TAGS:
            if tag == "br" and not exclude_depth:
                parts.append(" ")
            if tag in BLOCK_TAGS:  # hr
                flush()
            return
        if tag in BLOCK_TAGS:
            flush()
        chrome = tag in CHROME_TAGS or _attrs_chrome(attrs)
        exclude = tag in EXCLUDE_TAGS
        stack.append((tag, chrome, exclude))
        n_open[tag] = n_open.get(tag, 0) + 1
        if chrome:
            chrome_depth += 1
        if exclude:
            exclude_depth += 1
        if tag == "a":
            anchor_depth += 1
        if tag in _CDATA_TAGS:
            cdata = tag

    def end_tag(tag):
        nonlocal exclude_depth, chrome_depth, anchor_depth
        if tag in VOID_TAGS:
            return
        if tag in BLOCK_TAGS:
            flush()
        if not n_open.get(tag):
            return
        # pop to the nearest matching open tag (tolerates mismatched markup)
        for k in range(len(stack) - 1, -1, -1):
            if stack[k][0] == tag:
                for _tag, chrome, exclude in stack[k:]:
                    n_open[_tag] -= 1
                    if chrome:
                        chrome_depth -= 1
                    if exclude:
                        exclude_depth -= 1
                    if _tag == "a":
                        anchor_depth -= 1
                del stack[k:]
                break

    def text(decoded: str, pos: int, raw_len: int) -> None:
        """A text node: a data run, or a reference and its raw length."""
        nonlocal link_words, chrome_hit, src_start, src_end
        if exclude_depth or not decoded:
            return
        if src_start < 0:
            src_start = pos
        src_end = pos + raw_len
        parts.append(decoded)
        if anchor_depth:
            link_words += len(decoded.split())
        if chrome_depth:
            chrome_hit = True

    n = len(raw)
    i = 0
    end = False  # the stdlib parser is in feed() until the first stop
    match, tail_match = _EVENT_RE.match, _TAIL_EVENT_RE.match
    ends = _Ends(raw)
    no_gt = ends.no_gt
    while i < n:
        if cdata is not None:
            # raw text inside an excluded element: it adds nothing, and
            # only the element's own close tag ends it
            m = _CDATA_CLOSE[cdata].search(raw, i)
            if m is not None:
                end_tag(cdata)
                cdata = None
                i = m.end()
                continue
        else:
            m = match(raw, i) if i < no_gt else tail_match(raw, i)
            if m is not None:
                kind = m.lastindex
                if kind == _DATA:
                    s = m.group(_DATA)
                    text(s, i, len(s))
                elif kind == _START:
                    attrs = m.group("attrs")
                    start_tag(m.group("tag").lower(), m.group("empty"),
                              _parse_start_tag(raw, i, m.end())[1]
                              if _CLASS_OR_ID_RE.search(attrs) else ())
                elif kind == _END:
                    end_tag(m.group(_END).lower())
                elif kind == _CHARREF:
                    name = m.group(_CHARREF)
                    text(_charref_text(name), i, len(name) + 3)
                elif kind == _ENTITYREF:
                    name = m.group(_ENTITYREF)
                    text(_html.unescape(f"&{name};"), i, len(name) + 2)
                elif kind == _LONE:
                    text(raw[i], i, 1)
                i = m.end()
                continue
            # what the stdlib parser does at this '<' or '&'
            if raw.startswith("&#", i):
                if raw.find(";", i) >= 0:  # bail by consuming '&#'
                    text("&#", i, 2)
                    i += 2
            elif raw[i] == "&":
                # '&' + a name running to the end of the input, or '&' at
                # its end; close() drops the '&' of a one-letter name
                if i + 2 == n:
                    i += 1
            elif i + 1 < n:
                # a tag, comment or declaration _EVENT_RE does not cover
                c = raw[i + 1]
                if c == "/":
                    tag, k = _end_tag_end(raw, i, ends)
                    if tag is not None:
                        end_tag(tag)
                elif c == "!" or c == "?":
                    k = _markup_end(raw, i, ends)
                else:
                    k = _start_tag_end(raw, i, ends)
                    if k >= 0:
                        tag, attrs, tail = _parse_start_tag(raw, i, k)
                        if tail in (">", "/>"):
                            start_tag(tag, tail == "/>", attrs)
                        else:
                            text(raw[i:k], i, k - i)
                if k < 0 and end:
                    # incomplete at the end of the input: text up to the
                    # next '>' (or '<')
                    gt = ends.search(_GT, i + 1)
                    if gt:
                        k = gt.end()
                    else:
                        k = raw.find("<", i + 1)
                        if k < 0:
                            k = i + 1
                    text(raw[i:k], i, k - i)
                if k >= 0:
                    i = k
                    continue
        # the stdlib parser's feed() stops here; close() resumes at i and
        # ends with the rest as one data run
        if end:
            break
        end = True
    # (inside a raw-text element this text is excluded)
    text(raw[i:], i, n - i)
    flush()
    return blocks


def extract_html(raw: str) -> tuple[str, list[tuple[int, int, int, int, int]]]:
    """Return ``(extracted_text, spans)`` per SPEC.md §3.

    spans: list of (block_idx, start, end, src_start, src_end); start/end
    offsets into extracted_text, src_* into the raw markup.
    """
    blocks = _html_blocks(raw)
    spans: list[tuple[int, int, int, int, int]] = []
    offset = 0
    for idx, (text, src_start, src_end) in enumerate(blocks):
        spans.append((idx, offset, offset + len(text), src_start, src_end))
        offset += len(text) + 2  # '\n\n'
    return "\n\n".join(text for text, _, _ in blocks), spans
