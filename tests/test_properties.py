"""Property-based tests (SURVEY §5.2 layer 4): randomized HTML documents.

Invariants: engine == oracle on arbitrary markup; spans are sorted,
non-overlapping, in-bounds, and reconstruct the extracted text; no tag
fragments leak into the output."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from advanced_text_extraction_spark.kernels.html_extract import extract_html
from advanced_text_extraction_spark.kernels.normalize import normalize_plain
from advanced_text_extraction_spark.operators.extract import extract_one
from oracle.extractor import extract_payload as oracle_extract

_WORDS = st.sampled_from(
    "the and is data spark block text page line sin el la le les der die "
    "und alpha beta gamma".split()
)
_TEXT = st.lists(_WORDS, min_size=1, max_size=12).map(" ".join)
_ATTR = st.sampled_from(["", ' class="content"', ' class="sidebar"',
                         ' id="main"', ' class="cookie-banner"', ' href="/x"'])


@st.composite
def html_fragment(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return draw(_TEXT)
    tag = draw(st.sampled_from(
        ["p", "div", "span", "a", "li", "ul", "h2", "nav", "footer",
         "em", "blockquote", "aside", "script", "style"]))
    attr = draw(_ATTR)
    kids = draw(st.lists(html_fragment(depth=depth + 1), min_size=0, max_size=4))
    body = "".join(kids)
    if draw(st.integers(0, 9)) == 0:  # sometimes unclosed
        return f"<{tag}{attr}>{body}"
    return f"<{tag}{attr}>{body}</{tag}>"


@st.composite
def html_doc(draw):
    frags = draw(st.lists(html_fragment(), min_size=1, max_size=6))
    entities = draw(st.sampled_from(["", "&amp;", "&nbsp;", "&#x27;", "&#169;"]))
    return "<html><body>" + "".join(frags) + entities + "</body></html>"


@settings(max_examples=150, deadline=None)
@given(html_doc())
def test_engine_matches_oracle_on_random_html(doc):
    e = extract_one(doc)
    o = oracle_extract(doc)
    assert e["content_type"] == o["content_type"]
    assert e["extracted_text"] == o["extracted_text"]
    o_spans = [
        {"block_idx": b, "start": s, "end": t, "src_start": ss, "src_end": se}
        for b, s, t, ss, se in o["spans"]
    ]
    assert e["spans"] == o_spans
    assert e["language"] == o["language"]


@pytest.mark.parametrize("page", [
    "<html><p>hi</p><![foo]></html>", "<p>x</p><![ x]>"])
def test_engine_and_oracle_give_the_same_error_row(page):
    """Pages html.parser rejects end as the same error row in both."""
    e = extract_one(page)
    assert e["status"] == "error"
    assert e == oracle_extract(page)


@settings(max_examples=150, deadline=None)
@given(html_doc())
def test_span_invariants(doc):
    text, spans = extract_html(doc)
    prev_end = -1
    for i, (b, s, e, ss, se) in enumerate(spans):
        assert b == i
        assert 0 <= s < e <= len(text)
        assert s > prev_end
        prev_end = e
        assert 0 <= ss <= se <= len(doc)
    # reconstruction: span slices joined by '\n\n' == text
    assert "\n\n".join(text[s:e] for _, s, e, _, _ in spans) == text
    assert "</" not in text and "<p" not in text


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400))
def test_plain_normalization_engine_matches_oracle(s):
    # arbitrary unicode that does NOT sniff as html/pdf must round-trip
    e = extract_one(s)
    o = oracle_extract(s)
    assert e["content_type"] == o["content_type"]
    assert e["extracted_text"] == o["extracted_text"]
    if e["content_type"] == "text":
        t = e["extracted_text"]
        assert t == normalize_plain(s[:2_000_000])
        assert "\r" not in t and "​" not in t
        assert t == t.strip()
