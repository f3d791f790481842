"""The HTML event scanner and the PDF operation interpreter equal the
implementations they replaced.

``kernel_references`` holds frozen copies of the ``html.parser``-based
HTML kernel and of the PDF content-stream token loop. They are compared
with the package's kernels on the fixture corpus and the fuzz corpus
(whole rows through ``extract_one``: text, spans, metadata and error
messages) and on seeded generated documents (the kernel's own result, or
its exception type and message). All seeds are fixed.

One intended difference: a character reference to a surrogate code point
decodes to U+FFFD, where the reference leaves a lone surrogate that no
Arrow string column can hold."""

from __future__ import annotations

import base64
import gc
import random
import time

import kernel_references as ref
import pyarrow as pa
import pytest

from advanced_text_extraction_spark.kernels import pdf_extract
from advanced_text_extraction_spark.kernels.html_extract import extract_html
from advanced_text_extraction_spark.operators import extract as extract_op
from advanced_text_extraction_spark.operators.extract import (
    _make_kernel, extract_one)
from fixtures.gen import (
    build_pdf, gen_html, gen_pdf_payload, gen_plain, gen_transcripts)
from test_fuzz import corrupt_payloads


def _outcome(fn, arg):
    try:
        return fn(arg)
    except Exception as exc:  # the message is part of the contract
        return (type(exc).__name__, str(exc))


def _fffd(s: str) -> str:
    return "".join("\ufffd" if "\ud800" <= c <= "\udfff" else c for c in s)


def ref_extract_html(raw: str):
    """The reference HTML kernel, surrogates decoded to U+FFFD."""
    text, spans = ref.extract_html(raw)
    return _fffd(text), spans


# --- the fixture and fuzz corpora, row by row -----------------------------

def _long_html(rng: random.Random) -> str:
    body = "".join(f"<p>{gen_plain(rng)}</p>" for _ in range(60))
    return gen_html(rng).replace("</article>", body + "</article>", 1)


def _long_pdf(rng: random.Random) -> str:
    pages = [["".join(c for c in gen_plain(rng) if " " <= c < "\x7f")[:90]
              for _ in range(30)] for _ in range(10)]
    doc = build_pdf(pages, rng, flate=rng.random() < 0.5)
    return base64.b64encode(doc).decode("ascii")


def _corpora() -> list[str | None]:
    rng = random.Random(13)
    docs = list(gen_transcripts(n_turns=600, n_convs=20, seed=42)["text"])
    for _ in range(40):
        docs += [gen_html(rng), gen_html(rng, all_boilerplate=True),
                 gen_html(rng, mismatched=True), gen_pdf_payload(rng)]
    docs += [_long_html(rng) for _ in range(20)]
    docs += [_long_pdf(rng) for _ in range(4)]
    return docs + corrupt_payloads()


def test_rows_equal_reference_on_fixture_and_fuzz_corpora(monkeypatch):
    docs = _corpora()
    got = [extract_one(d) for d in docs]
    monkeypatch.setattr(extract_op, "extract_html", ref_extract_html)
    monkeypatch.setattr(pdf_extract, "_interpret", ref._interpret)
    want = [extract_one(d) for d in docs]
    kinds = {(w["content_type"], w["status"]) for w in want}
    assert {("html", "ok"), ("pdf", "ok"), ("pdf", "error")} <= kinds
    for doc, g, w in zip(docs, got, want):
        assert g == w, doc[:200] if doc else doc


# --- generated HTML -------------------------------------------------------

_WORDS = ["alpha", "Beta", "x", "data", "nav", "über", "日本", "e\u0301",
          "\u200b", "word", "menu", "a-b", "1", ";"]
_SPACES = [" ", "  ", "\n", "\r", "\r\n", "\t", "\xa0", "\u3000", "\x0b",
           "\x0c", "\x00"]
_TAGS = ["p", "div", "a", "span", "nav", "header", "footer", "aside",
         "script", "style", "title", "head", "li", "ul", "br", "hr", "img",
         "svg", "table", "td", "h1", "section", "b", "P", "DiV", "A",
         "Script", "STYLE", "x:y", "a-b.c"]
_ATTR_NAMES = ["class", "id", "CLASS", "Id", "href", "data-x", "title", "x",
               "a\"b", "=x"]
_ATTR_VALUES = ['"nav"', "'menu x'", "sidebar", '"main"', '"a&amp;b"',
                '"cookie-banner"', "x/", '""', "'social_links'",
                '"promo&#32;box"', "/a/b/", "'it''s'", '"a>b"', "nav'",
                '"top-ads"', "&#x6e;av", ""]
_BROKEN_TAGS = ["</>", "</ p>", "</3>", "<p", "<a href='x", "<div class=",
                "</div", "<p/x>", "<a b='c'd>", '<a "b">', "<br/>", "<p\x00>",
                "<a/b>", "<img src=x/>", "<input disabled/>", "<p =x>",
                "<a x=1 / >", "<p class=nav\x0bid=menu>", "</p\n  x=y>",
                "<div\xa0class=nav>"]
_MARKUP = ["<!-- c -->", "<!---->", "<!-- a -- b --\n>", "<!-->", "<!--",
           "<!DOCTYPE html>", "<!doctype", "<!x>", "<!>", "<!-x>",
           "<?php echo 1; ?>", "<?x", "<![CDATA[ <p>x</p> ]]>",
           "<![if !ie]>", "<![endif]>", "<![cdata", "<![", "<![ x]>",
           "<![foo]>"]
_REFS = ["&amp;", "&AMP;", "&nbsp;", "&nbsp", "&lt", "&copy;", "&a-b",
         "&x.y;", "&#65;", "&#x41;", "&#X41", "&#xD800;", "&#56320;",
         "&#x110000;", "&#99999999999999999999;", "&#0;", "&#", "&#x;",
         "&#;", "&", "& ", "&;", "&unknownentity;", "&#12a;", "&a"]
_LONE = ["<", ">", "< p", "<3", "=", "'", '"', "/", "]]>"]
_RAW = ["var a = '<p>x</p>'; if (a < b && c) {}", "p { color: red }",
        "</scrip>", "</ script >", "</SCRIPT>", "</style\n>", "<!-- x -->"]


def _attr(rng: random.Random) -> str:
    lead = rng.choice([" ", " ", " ", "  ", "\n", "/", "\t", "\xa0"])
    name = rng.choice(_ATTR_NAMES)
    if rng.random() < 0.2:
        return lead + name
    sep = rng.choice(["=", "=", "=", "=", " = ", "==", "\t=\n"])
    return lead + name + sep + rng.choice(_ATTR_VALUES)


def _tag(rng: random.Random) -> str:
    r = rng.random()
    tag = rng.choice(_TAGS)
    if r < 0.5:
        attrs = "".join(_attr(rng) for _ in range(rng.randrange(3)))
        return f"<{tag}{attrs}{rng.choice(['', '', '', ' ', '/', ' /'])}>"
    if r < 0.9:
        return f"</{tag}{rng.choice(['', '', '', ' ', ' x', chr(10)])}>"
    return rng.choice(_BROKEN_TAGS)


def _html_doc(rng: random.Random) -> str:
    pieces = []
    for _ in range(rng.randrange(0, 40)):
        r = rng.random()
        if r < 0.3:
            pieces.append(rng.choice(_WORDS))
        elif r < 0.45:
            pieces.append(rng.choice(_SPACES))
        elif r < 0.75:
            pieces.append(_tag(rng))
        elif r < 0.83:
            pieces.append(rng.choice(_REFS))
        elif r < 0.9:
            pieces.append(rng.choice(_MARKUP))
        elif r < 0.95:
            pieces.append(rng.choice(_LONE))
        else:
            pieces.append(rng.choice(_RAW))
    doc = "".join(pieces)
    if rng.random() < 0.3:
        doc = f"<html><body>{doc}</body></html>"
    return doc


_SOUP = list("<>/!-&#;aAbpx19=\"' \n\t\r[]?_.:\x00\xa0\x0b") + [
    "script", "style", "div", "p", "br", "a", "nav", "class", "id",
    "CDATA", "if", "endif", "doctype", "amp", "D800", "x"]


# constructs a run of which took the replaced kernel quadratic time: each
# unterminated copy searched to the end of the input, each unmatched end
# tag scanned the whole element stack
_UNTERMINATED = ["<!--", "<![cdata[", "<![if", "<!x", "<?x", "</a", "<a",
                 "<a ", "<a b='", '<a x=">" ', "<a\x0b", "<a\x00", "&#",
                 "b=<a/", "<i></b>"]


def test_html_equals_reference_on_generated_documents():
    rng = random.Random(2026)
    docs = [_html_doc(rng) for _ in range(8000)]
    docs += ["".join(rng.choice(_SOUP) for _ in range(rng.randrange(40)))
             for _ in range(6000)]
    # long runs of one unterminated construct (short: the reference is
    # quadratic in them)
    docs += [rng.choice(["", "<p>x</p>"]) + c * rng.randrange(1, 300)
             + rng.choice(["", "", ">", "-->", "]]>", "<b>", "b='", "\x00"])
             for c in _UNTERMINATED for _ in range(16)]
    raised = 0
    for doc in docs:
        want = _outcome(ref_extract_html, doc)
        assert _outcome(extract_html, doc) == want, repr(doc)
        raised += isinstance(want[1], str)
    # the generators reach the stdlib's marked-section errors too
    assert 0 < raised < len(docs) // 4, raised


def _cpu(fn, args: list, runs: int) -> list[float]:
    """The best of ``runs`` CPU times of ``fn`` on each argument. The
    arguments take turns, so a slow spell of the host falls on all of
    them, and the cyclic collector is off: a collection scans every
    object of the test process, not just the kernel's."""
    best = [float("inf")] * len(args)
    gc.collect()
    gc.disable()
    try:
        for _ in range(runs):
            for k, arg in enumerate(args):
                t0 = time.process_time()
                _outcome(fn, arg)
                best[k] = min(best[k], time.process_time() - t0)
    finally:
        gc.enable()
    return best


@pytest.mark.parametrize("construct, after", [
    ("<!--", ""), ("<a<a", ""), ("<![cdata[", ""),
    ("<a ", ""), ('<a x=">" ', "b='"), ("<i></b>", "")])
def test_html_cost_grows_linearly_in_unterminated_runs(construct, after):
    """Every copy of an unterminated construct used to search to the end
    of the input again, and every unmatched end tag the whole element
    stack: the CPU ratio of n = 40k to 10k copies was ~16."""
    small, large = _cpu(extract_html, [
        "<p>x</p>" + construct * n + after for n in (10_000, 40_000)], 7)
    assert large < 6 * max(small, 0.005), (small, large)


@pytest.mark.parametrize("construct", ["<!x", "</a", "<?x"])
def test_html_payload_cap_of_unterminated_constructs_is_cheap(construct):
    """A 2M-character payload (the payload cap) of bogus comments, end
    tags or processing instructions without '>': each used to search for
    one to the end of the input."""
    page = "<p>x</p>" + construct * (2_000_000 // len(construct))
    assert _cpu(extract_html, [page], 1)[0] < 8


def test_surrogate_reference_becomes_replacement_character():
    """A reference to a surrogate code point decodes to U+FFFD, so the
    Arrow kernel builds its row instead of failing the task."""
    page = "<html><body><p>broken &#xD800; ref &#56320;</p></body></html>"
    batch = pa.RecordBatch.from_pylist(
        [{"conv_id": "c", "turn_idx": 0, "text": page}])
    row, = pa.Table.from_batches(
        list(_make_kernel(None)(iter([batch])))).to_pylist()
    assert row["status"] == "ok"
    assert row["extracted_text"] == "broken \ufffd ref \ufffd"
    # values beyond U+10FFFF still decode to nothing
    assert extract_html("<p>a&#x110000;b</p>")[0] == "ab"


# --- generated PDF content streams ----------------------------------------

_PDF_STRS = [b"(Hello World)", b"(a\\(b\\)c)", b"(esc \\n\\r\\t\\b\\f \\\\ \\q)",
             b"(oct \\101\\7\\0101\\777\\8)", b"(line \\\ncont \\\r\nmore \\\rx)",
             b"(nested (inner) paren)", b"((deep (er)))", b"(\xe9\xff latin)",
             b"()", b"(%not a comment)", b"<48656C6C6F>",
             b"<48 65 6c\n6c\x0b6F>", b"<486>", b"<>", b"<4G>", b"<48\x0041>",
             b"(unterminated", b"(tail\\", b"(cr\rlf\n)"]
_PDF_NUMS = [b"0", b"12", b"-14", b"72.5", b"-250", b"-180", b"-179.9",
             b".5", b"5.", b"+3", b"-.25", b"1e5", b"1.2.3", b"--1", b"."]
_PDF_NAMES = [b"/F1", b"/", b"/Name#20x", b"/12"]
# operators that read no operand, then the text operators that do
_PDF_OPS = [b"BT", b"ET", b"T*", b"Tf", b"Tc", b"q", b"Q", b"cm", b"re",
            b"BDC", b"EMC", b"true", b"Tjx", b"Td", b"TD", b"Tm", b"TL",
            b"Tj", b"TJ", b"'", b'"']
_PDF_SEPS = [b" ", b" ", b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c",
             b" % comment (x) Tj\n", b"%c\r", b""]
_PDF_NOISE = [b")", b"]", b"[", b"{", b"}", b">", b"<", b"\\", b"(", b"<<",
              b">>", b"[1 [2] 3]", b"[(a) Tj]"]


def _pdf_operand(rng: random.Random, clean: bool) -> bytes:
    r = rng.random()
    if r < 0.45:
        return rng.choice(_PDF_NUMS[:11] if clean else _PDF_NUMS)
    if r < 0.75:
        return rng.choice(_PDF_STRS[:4] + _PDF_STRS[7:14] if clean
                          else _PDF_STRS)
    if r < 0.85:
        return rng.choice(_PDF_NAMES)
    if r < 0.97:
        return b"[" + b" ".join(_pdf_operand(rng, True)
                                for _ in range(rng.randrange(5))) + b"]"
    return rng.choice([b"<<", b">>", b"<< /K 1 >>"])


def _pdf_operation(rng: random.Random, clean: bool) -> bytes:
    r = rng.random()
    if r < 0.5:  # the shapes a text layer is made of
        num = lambda: rng.choice(_PDF_NUMS[:11])  # noqa: E731
        text = rng.choice(_PDF_STRS[:4] + _PDF_STRS[7:14])
        return rng.choice([
            num() + b" " + num() + b" Td", num() + b" " + num() + b" TD",
            b" ".join(num() for _ in range(6)) + b" Tm", text + b" Tj",
            text + b" '", num() + b" " + num() + b" " + text + b' "',
            b"[" + text + b" " + num() + b" " + text + b"] TJ",
            num() + b" TL", b"T*", b"BT", b"ET", b"/F1 12 Tf"])
    operands = [_pdf_operand(rng, clean) for _ in range(rng.randrange(4))]
    return b" ".join(operands + [rng.choice(_PDF_OPS[:13] if clean
                                            else _PDF_OPS)])


def _pdf_stream(rng: random.Random) -> bytes:
    clean = rng.random() < 0.5
    out = []
    for _ in range(rng.randrange(0, 25)):
        out.append(_pdf_operation(rng, clean))
        out.append(rng.choice(_PDF_SEPS[:8] if clean else _PDF_SEPS))
        if not clean and rng.random() < 0.05:
            out.append(rng.choice(_PDF_NOISE))
    if rng.random() < 0.1:  # operands left at the end of the stream
        out.append(_pdf_operand(rng, clean))
    return b"".join(out)


def test_pdf_interpreter_equals_reference_on_generated_streams(monkeypatch):
    rng = random.Random(2027)
    streams = [_pdf_stream(rng) for _ in range(12000)]
    # soup: the same tokens in any order, with or without separators
    tokens = (_PDF_STRS + _PDF_NUMS + _PDF_NAMES + _PDF_OPS + _PDF_NOISE
              + _PDF_SEPS)
    streams += [(b" " if rng.random() < 0.5 else b"").join(
        rng.choice(tokens) for _ in range(rng.randrange(25)))
        for _ in range(4000)]
    token_loop = []
    monkeypatch.setattr(
        pdf_extract, "_interpret_tokens",
        lambda s: token_loop.append(s) or ref._interpret(s))
    raised = 0
    for stream in streams:
        want = _outcome(ref._interpret, stream)
        assert _outcome(pdf_extract._interpret, stream) == want, stream
        raised += isinstance(want, tuple)
    # both paths run, and some streams end in each of the loop's errors
    assert len(streams) // 4 < len(token_loop) < len(streams) * 3 // 4
    assert len(streams) // 10 < raised < len(streams) // 2


@pytest.mark.parametrize("stream, error", [
    (b"BT (a) Tj ) ET", "stray delimiter b')'"),
    (b"BT [(a) -300 (b)]] TJ ET", "pop from empty list"),
    (b"BT (a) 5 Td ET", "unsupported operand type(s) for +: 'float' and 'str'"),
    (b"BT (open Tj ET", "unterminated string literal"),
    (b"BT <4G> Tj ET", "bad hex string: non-hexadecimal number found in "
                       "fromhex() arg at position 1"),
])
def test_pdf_token_loop_keeps_its_errors(stream, error):
    assert _outcome(pdf_extract._interpret, stream)[1] == error
    assert _outcome(ref._interpret, stream)[1] == error
