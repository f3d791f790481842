"""Regression tests for the round-2 code-review findings: blank PDF
pages, OCR-fallback failure containment, partial-doc OCR page rows,
out-of-range sign-LSH windows, partial config sections, and the
punctuation-only line-band merge."""

from __future__ import annotations

import base64
import json
import random
import re
from types import SimpleNamespace

import pytest

from fixtures.gen import build_pdf, build_scanned_pdf
from advanced_text_extraction_spark.kernels.ocr import (
    recognize, render_page)
from advanced_text_extraction_spark.kernels.pdf_extract import (
    PdfError, extract_pdf)
from advanced_text_extraction_spark.operators import extract as extract_mod
from oracle.extractor import _extract_pdf as oracle_extract_pdf


# ------------------------------------------------- blank pages (no /Contents)

def _drop_contents(data: bytes, page_index: int) -> bytes:
    """Remove the /Contents entry from the page_index-th /Type /Page dict
    (a blank page — legal per PDF spec, /Contents is optional). Object
    scanning in both engine and oracle ignores xref offsets, so the size
    change is harmless."""
    hits = [m for m in re.finditer(rb"/Type /Page /Parent[^>]*", data)]
    head = hits[page_index].group(0)
    patched = re.sub(rb"/Contents \d+ 0 R ", b"", head, count=1)
    assert patched != head
    return data.replace(head, patched, 1)


def test_pdf_blank_page_skipped_not_fatal():
    raw = build_pdf([["first page body text here"],
                     ["second page body text here"]],
                    random.Random(5), flate=False)
    patched = _drop_contents(raw, 0)
    text, _spans, _gate, _n = extract_pdf(patched)
    assert "second page body text here" in text
    assert "first page" not in text


def test_pdf_blank_page_matches_oracle():
    raw = build_pdf([["alpha beta gamma delta epsilon"],
                     ["zeta eta theta iota kappa"]],
                    random.Random(11), flate=False)
    patched = _drop_contents(raw, 1)
    engine_text = extract_pdf(patched)[0]
    oracle_text = oracle_extract_pdf(patched)[0]
    assert engine_text == oracle_text


def test_pdf_all_pages_blank_is_error():
    raw = build_pdf([["only page text"]], random.Random(7), flate=False)
    patched = _drop_contents(raw, 0)
    with pytest.raises(PdfError):
        extract_pdf(patched)


# ------------------------------------- OCR fallback failure keeps text layer

def test_failing_ocr_fallback_keeps_short_text_layer():
    short_pdf = build_pdf([["tiny"]], random.Random(3), flate=False)
    payload = base64.b64encode(short_pdf).decode()

    def exploding_fallback(pdf_bytes):
        raise ValueError("no raster decodable")

    row = extract_mod.extract_one(payload, ocr_fallback=exploding_fallback)
    assert row["status"] == "ok"
    assert "tiny" in row["extracted_text"]
    assert row["metadata"]["text_layer"] == "short"
    assert "no raster decodable" in row["metadata"]["ocr_error"]


# ----------------------------------- pdf_ocr_pages: no partial 'ok' doc rows

def test_pdf_ocr_pages_failure_discards_partial_pages(spark):
    from advanced_text_extraction_spark.operators.ocr import pdf_ocr_pages

    data = build_scanned_pdf(["GOOD PAGE ONE", "BAD PAGE TWO"], scale=3)
    # corrupt the SECOND image: claim a bogus width so decode_raw_gray
    # sees len(raw) != w*h and raises mid-doc (after page 0 succeeded)
    m = list(re.finditer(rb"/Subtype /Image /Width (\d+)", data))[1]
    data = data[:m.start(1)] + b"99991" + data[m.end(1):]

    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, payload binary")
    rows = pdf_ocr_pages(df).collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "error"
    assert rows[0]["page_idx"] == -1


# --------------------------------------- sign-LSH windows beyond the vec dim

def test_neardup_pairs_survive_bits_past_dim(spark):
    from advanced_text_extraction_spark.operators.similarity import (
        embedding_neardup_pairs)

    vecs = [(1, [0.5, -0.2, 0.3, 0.9]),
            (2, [0.5, -0.2, 0.3, 0.9]),
            (3, [-0.5, 0.2, -0.3, -0.9])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    # 8 bits x 2 bands over a 4-dim vector: every index past 4 wraps
    # modulo dim instead of raising under Spark 4's default ANSI mode
    out = embedding_neardup_pairs(df, threshold=0.99, n_bits=8, n_bands=2)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}


# ----------------------------------------------- partial config sections

def test_partial_config_section_does_not_crash(tmp_path, monkeypatch):
    import advanced_text_extraction_spark.plans.pipeline as pipeline
    import advanced_text_extraction_spark.sources.session as session
    import scripts.run_extract as run_extract

    calls = {}

    def fake_job(spark, df, output, **kw):
        calls["output"] = output
        calls.update(kw)
        from types import SimpleNamespace
        return SimpleNamespace(run_id="t", input_rows=0, buckets_done=0,
                               buckets_skipped=0, wall_sec=0.0)

    class _Read:
        def parquet(self, p):
            return "df"

    class _Spark:
        read = _Read()
        sparkContext = SimpleNamespace(master="local[1]")

        def stop(self):
            pass

    monkeypatch.setattr(pipeline, "run_extract_job", fake_job)
    monkeypatch.setattr(session, "build_session", lambda **kw: _Spark())

    cfg = tmp_path / "cfg.json"
    # 'job' section present but PARTIAL: n_buckets only — resume and the
    # rest must fall back to package defaults, not KeyError (the merge
    # is a shallow section replace by reference contract)
    cfg.write_text(json.dumps({"job": {"n_buckets": 7}, "warehouse": {}}))
    rc = run_extract.main(["--input", str(tmp_path / "in"),
                           "--config", str(cfg)])
    assert rc == 0
    assert calls["n_buckets"] == 7
    assert calls["resume"] is True      # package default survived
    assert calls["output"] == "warehouse"


def test_retired_config_keys_are_ignored(tmp_path, monkeypatch):
    """job.arrow_batch_rows, job.salt and job.shuffle_partitions are no
    longer read: an old config that still carries them runs, and none of
    them reaches the session or the job."""
    import advanced_text_extraction_spark.plans.pipeline as pipeline
    import advanced_text_extraction_spark.sources.session as session
    import scripts.run_extract as run_extract

    calls = {}

    def fake_job(spark, df, output, **kw):
        calls["job"] = kw
        from types import SimpleNamespace
        return SimpleNamespace(run_id="t", input_rows=0, buckets_done=0,
                               buckets_skipped=0, wall_sec=0.0)

    class _Read:
        def parquet(self, p):
            return "df"

    class _Spark:
        read = _Read()
        sparkContext = SimpleNamespace(master="local[1]")

        def stop(self):
            pass

    def fake_session(**kw):
        calls["session"] = kw
        return _Spark()

    monkeypatch.setattr(pipeline, "run_extract_job", fake_job)
    monkeypatch.setattr(session, "build_session", fake_session)
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"job": {
        "n_buckets": 5, "arrow_batch_rows": 64, "salt": 4,
        "shuffle_partitions": 16}}))
    rc = run_extract.main(["--input", str(tmp_path / "in"),
                           "--config", str(cfg)])
    assert rc == 0
    assert set(calls["session"]) == {"app_name"}
    assert calls["job"]["n_buckets"] == 5
    assert not {"arrow_batch_rows", "salt", "shuffle_partitions"} \
        & set(calls["job"])


# ------------------------------------------- punctuation-only line bands

def test_punctuation_only_line_not_split():
    for scale in (2, 3, 4):
        res = recognize(render_page("!!!", scale=scale))
        assert res["text"] == "!!!", (scale, res["text"])


def test_two_punctuation_lines_stay_separate():
    res = recognize(render_page("!!!\n!!!", scale=3))
    assert res["text"] == "!!!\n!!!"


# -------------------------------------------------- short-glyph-only lines
# Regression: per-band scale estimation (band_h/7) collapsed on lines
# with no tall glyph — '---' read as '! ! !' with full confidence, '='
# split into two lines. Scale is now a page property estimated across
# all glyph runs, and '-' vs '_' resolve against the line grid.

@pytest.mark.parametrize("scale", [1, 2, 3, 4])
@pytest.mark.parametrize("text", [
    "---", "....", "___", "====", "= = =", "'''", ". . .",
    "--- TITLE ---", "A_B", "__INIT__", "X - Y _ Z",
])
def test_separator_lines_recognized_exactly(text, scale):
    assert recognize(render_page(text, scale=scale))["text"] == text


def test_yaml_front_matter_page():
    # the scenario from the finding: a '---' line amid normal text —
    # the anchored lines fix the grid for the bar-only line
    txt = "YAML:\n---\nKEY: VALUE"
    assert recognize(render_page(txt, scale=3))["text"] == txt


def test_bar_only_page_distinguishes_dash_from_underscore():
    # no anchor glyph anywhere: falls back to the renderer's equal
    # top/left margin to locate the grid row (3 vs 6)
    assert recognize(render_page("___\n___", scale=3))["text"] == "___\n___"
    assert recognize(render_page("---", scale=2))["text"] == "---"


def test_wide_rule_artifact_does_not_poison_page_scale():
    """A full-width horizontal rule (letterhead bar, table border,
    scanner streak) is wider than any glyph can be, so a max-based
    scale floor would jump ~10x and wipe out the real text. The floor
    is median-anchored; the rule itself may read as a bar char but the
    text must survive."""
    import numpy as np

    img = render_page("HELLO WORLD\nSECOND LINE", scale=3)
    h, w = img.shape
    ruled = np.full((h + 12, w), 255, dtype=np.uint8)
    ruled[:h] = img
    ruled[h + 4:h + 7, :] = 0
    text = recognize(ruled)["text"]
    assert text.startswith("HELLO WORLD\nSECOND LINE")


def test_line_gap_speck_joins_neighbor_not_phantom_line():
    """A residual speck in the line gap must merge into the nearer line
    band (the pre-existing behavior), not survive as its own band and be
    emitted as a phantom 100-confidence text line."""
    import numpy as np

    img = render_page("HELLO WORLD\nSECOND LINE", scale=3)
    speck = img.copy()
    speck[30:32, 40:42] = 0          # 2x2 speck in the inter-line gap
    res = recognize(speck)
    assert res["n_lines"] == 2       # no phantom third line
    assert res["text"].endswith("SECOND LINE")


# ------------------------------------------------- image-less PDF pages

def test_imageless_page_does_not_drag_confidence():
    """A page with no embedded images has nothing to score: its
    page_confs slot is None and the doc mean covers only scored pages
    (a 0.0 used to halve an otherwise perfect scan)."""
    from advanced_text_extraction_spark.operators.ocr import ocr_pdf_bytes

    data = build_scanned_pdf(["GOOD SCAN PAGE", "DROPPED"], scale=3)
    # strip page 2's image resource -> a legal image-less page
    patched = data.replace(b"/Resources << /XObject << /Im0 7 0 R >> >>",
                           b"/Resources << >>")
    assert patched != data
    text, conf, page_confs = ocr_pdf_bytes(patched, preprocess=False)
    assert text == "GOOD SCAN PAGE\n\n"
    assert conf == 1.0
    assert page_confs == [1.0, None]


def test_imageless_page_null_in_page_rows(spark):
    from advanced_text_extraction_spark.operators.ocr import (
        page_confidence_stats, pdf_ocr_pages)

    data = build_scanned_pdf(["GOOD SCAN PAGE", "DROPPED"], scale=3)
    patched = data.replace(b"/Resources << /XObject << /Im0 7 0 R >> >>",
                           b"/Resources << >>")
    assert patched != data
    df = spark.createDataFrame([(1, bytearray(patched))],
                               "doc_id long, payload binary")
    pages = pdf_ocr_pages(df, preprocess=False).orderBy("page_idx").collect()
    assert [r.page_confidence for r in pages] == [1.0, None]
    stats = page_confidence_stats(pdf_ocr_pages(df, preprocess=False)) \
        .collect()
    # avg skips the NULL; n_pages still counts the page as processed
    assert [(r.doc_id, r.n_pages, r.page_conf_mean) for r in stats] == [
        (1, 2, 1.0)]


# ------------------------------------------------- paddleocr routing

def test_select_engine_routes_large_images_to_paddleocr(monkeypatch):
    """The large+complex branch must be reachable when a paddleocr
    engine is registered (it used to be dead: checked for a key no
    registration block ever created)."""
    import numpy as np

    from advanced_text_extraction_spark.kernels import ocr as K

    big = np.zeros((1500, 1500), dtype=np.uint8)
    small = np.zeros((50, 200), dtype=np.uint8)
    monkeypatch.setitem(K.ENGINES, "paddleocr", lambda img: ("", 0.0, []))
    assert K.select_engine(big) == "paddleocr"
    assert K.select_engine(small) in ("easyocr", "tesseract", "template")


# -------------------------- boundary-whitespace semantics (review round 3)

def test_word_count_boundary_whitespace(spark):
    """word_count must equal Python len(text.split()): a trailing
    newline/tab adds no phantom token (trim strips only spaces)."""
    from pyspark.sql import functions as F

    from advanced_text_extraction_spark.functions.text import word_count
    rows = [(1, "hello world\n"), (2, "\ta b\r\n"), (3, "  "), (4, ""),
            (5, "one")]
    out = {r["i"]: r["n"] for r in spark.createDataFrame(
        rows, "i long, text string"
    ).select("i", word_count(F.col("text")).alias("n")).collect()}
    assert out == {i: len(t.split()) for i, t in rows}


def test_repetition_stats_crlf_blank_lines(spark):
    """CRLF blank lines ('\\r' remnants) are not content: a clean CRLF
    doc must show zero duplicate-line fraction."""
    from advanced_text_extraction_spark.operators.curation import (
        repetition_stats)
    text = "alpha\r\nbeta\r\n\r\ngamma\r\n\r\ndelta\r\n"
    row = repetition_stats(
        spark.createDataFrame([(1, text)], "doc_id long, text string"),
        "doc_id", "text").first()
    assert row["n_lines"] == 4
    assert row["dup_line_frac"] == 0.0


def test_paragraph_dedup_whitespace_paragraphs(spark):
    """An odd newline run must not emit a whitespace-only 'paragraph'
    hash (it would accumulate a huge phantom n_copies corpus-wide)."""
    from advanced_text_extraction_spark.operators.curation import (
        paragraph_dedup)
    rows = [(1, "foo\n\n\n"), (2, "bar\n\n\nbaz")]
    out = paragraph_dedup(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text").collect()
    hashes = {r["para_hash"] for r in out}
    # split on \n\n: doc1 -> ['foo', '\n'] (blank dropped), doc2 ->
    # ['bar', '\nbaz'] -> 3 content paragraphs, no md5-of-whitespace row
    assert len(out) == 3
    import hashlib
    assert hashlib.md5(b"\n").hexdigest() not in hashes


def test_shingles_trailing_newline_no_phantom(spark):
    """A 2-word doc with a trailing newline has NO 3-word shingles —
    the boundary empty token must not complete a phantom shingle."""
    from advanced_text_extraction_spark.operators.dedup import (
        _shingle_list, word_shingles)
    assert _shingle_list("just two\n", 3) == []
    assert _shingle_list("a b c\n", 3) == ["a b c"]
    n = word_shingles(
        spark.createDataFrame([(1, "just two\n")],
                              "doc_id long, text string"),
        "doc_id", "text").count()
    assert n == 0


def test_pack_sequences_string_ids(spark):
    """Sharding is md5-based, so non-numeric ids pack fine (a pmod
    shard would cast them to null and funnel all rows into one task)."""
    from advanced_text_extraction_spark.operators.sampling import (
        pack_sequences)
    rows = [(f"doc-{i}", "w " * 5) for i in range(40)]
    out = pack_sequences(
        spark.createDataFrame(rows, "doc_id string, text string"),
        "doc_id", "text", budget=20, n_shards=4).collect()
    assert len(out) == 40
    assert len({r["shard"] for r in out}) > 1  # spread across shards
    assert all(0 <= r["seq_offset"] < 20 for r in out)


def test_unigram_logprob_trailing_newline(spark):
    """The corpus total counts only real tokens: 'hello world\\n' is 2
    tokens, so a 2-doc corpus of it scores log10(1) = ... exactly."""
    import math

    from advanced_text_extraction_spark.operators.sampling import (
        unigram_logprob)
    df = spark.createDataFrame([(1, "hello world\n"), (2, "hello\n")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           unigram_logprob(df, "doc_id", "text").collect()}
    # counts: hello:2 world:1, total 3
    lp_h, lp_w = round(math.log10(2 / 3), 12), round(math.log10(1 / 3), 12)
    assert out[1]["n_tokens"] == 2
    assert out[1]["mean_logprob"] == pytest.approx(
        round((lp_h + lp_w) / 2, 6), abs=1e-9)
    assert out[2]["n_tokens"] == 1
    assert out[2]["mean_logprob"] == pytest.approx(
        round(lp_h, 6), abs=1e-9)


# ---------------------- PDF spec-form coverage (review round 3 findings)

def _pdf_doc(objects: dict[int, bytes]) -> bytes:
    """Assemble a minimal PDF from {obj_num: body} parts."""
    out = [b"%PDF-1.4"]
    for num, body in sorted(objects.items()):
        out.append(b"%d 0 obj %s endobj" % (num, body))
    out.append(b"%%EOF")
    return b"\n".join(out)


def _content_obj(ops: bytes) -> bytes:
    return b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)


def test_pdf_nested_page_tree_keeps_all_pages():
    """Intermediate /Pages nodes are spec-valid; a flat 'last Kids wins'
    read dropped whole subtrees. Engine and oracle walk the tree."""
    doc = _pdf_doc({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        3: b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        4: b"<< /Type /Pages /Kids [6 0 R] /Count 1 >>",
        5: b"<< /Type /Page /Parent 3 0 R /Contents 7 0 R >>",
        6: b"<< /Type /Page /Parent 4 0 R /Contents 8 0 R >>",
        7: _content_obj(b"BT 10 700 Td (PAGE ONE HERE) Tj ET"),
        8: _content_obj(b"BT 10 700 Td (PAGE TWO HERE) Tj ET"),
    })
    text, _spans, _gate, n_pages = extract_pdf(doc)
    assert n_pages == 2
    assert "PAGE ONE HERE" in text and "PAGE TWO HERE" in text
    assert text.index("PAGE ONE HERE") < text.index("PAGE TWO HERE")
    assert oracle_extract_pdf(doc)[0] == text  # twin stays a twin


def test_pdf_contents_array_form():
    """/Contents [N 0 R M 0 R] is spec-valid: the streams concatenate;
    the single-ref-only regex treated such pages as blank."""
    doc = _pdf_doc({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>",
        4: _content_obj(b"BT 10 700 Td (FIRST STREAM) Tj ET"),
        5: _content_obj(b"BT 10 650 Td (SECOND STREAM) Tj ET"),
    })
    text = extract_pdf(doc)[0]
    assert "FIRST STREAM" in text and "SECOND STREAM" in text
    assert oracle_extract_pdf(doc)[0] == text


def test_pdf_trailing_dot_real():
    """'10.' is a valid real (ISO 32000 §7.3.3); lexed as an operator it
    cleared the stack and skipped the Td, merging two lines into one."""
    ops = b"BT 10 700 Td (LINE A) Tj 10. -50 Td (LINE B) Tj ET"
    doc = _pdf_doc({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: _content_obj(ops),
    })
    text = extract_pdf(doc)[0]
    assert text == "LINE A\nLINE B"
    assert oracle_extract_pdf(doc)[0] == text


def test_image_codec_typed_errors_and_range():
    """Truncated FIMG headers and out-of-range ASCII netpbm samples must
    raise ImageError, not struct.error / numpy wrap-or-OverflowError."""
    from advanced_text_extraction_spark.kernels.image_codec import (
        ImageError, decode_image, decode_pnm)
    with pytest.raises(ImageError):
        decode_image(b"FIMG")
    with pytest.raises(ImageError):
        decode_image(b"FIMG\x00\x01")
    with pytest.raises(ImageError):
        decode_pnm(b"P2 2 1 255 300 1")


def test_xlsx_date_cell_and_bad_numeric():
    """A t="d" ISO-date cell is spec-valid (text IS the value); a
    malformed numeric cell raises OfficeError, not bare ValueError."""
    import xml.etree.ElementTree as ET

    from advanced_text_extraction_spark.kernels.office_extract import (
        _S, OfficeError, _xlsx_cell_str)

    def cell(t, text):
        attr = f' t="{t}"' if t else ""
        return ET.fromstring(
            f'<c xmlns="{_S.strip("{}")}"{attr}><v>{text}</v></c>')

    assert _xlsx_cell_str(cell("d", "2020-01-01"), []) == "2020-01-01"
    assert _xlsx_cell_str(cell("", "2.5"), []) == "2.5"
    with pytest.raises(OfficeError):
        _xlsx_cell_str(cell("", "not-a-number"), [])


def test_ivf_kernel_tier_survives_null_embeddings(spark):
    """A null embedding row must not kill the corpus-scale Arrow kernel
    (r4 review): both tiers assign it cell 0 — the expression tier via
    null-score struct comparison falling through to negcell, the kernel
    via the zero-vector substitution — and seed_centroids must skip it."""
    from advanced_text_extraction_spark.operators import similarity as S
    rows = [(0, [1.0, 0.0, 0.0]), (1, None), (2, [0.0, 1.0, 0.0]),
            (3, [0.9, 0.1, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.seed_centroids(df, n_cells=2)
    assert cents == [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]  # null skipped
    expr = {r["vec_id"]: r["cell"]
            for r in S.ivf_assign(df, cents).collect()}
    kern = {r["vec_id"]: r["cell"]
            for r in S.ivf_assign_kernel(df, cents).collect()}
    assert expr == kern
    assert expr[1] == 0  # the null row lands in cell 0 on both tiers
    trained = S.train_centroids(df, n_cells=2, n_iter=1, kernel=True)
    assert len(trained) == 2  # trainer survives the null row too


def test_lsh_query_bucket_mirrors_spark_nan_semantics(spark):
    """Spark orders NaN above every double, so a row's `NaN >= 0` bit is
    1; the Python query-side loop must agree or the query probes the
    wrong bucket and recall silently collapses (r4 review)."""
    import math

    from advanced_text_extraction_spark.operators.similarity import (
        lsh_bucket_topk)
    nanvec = [float("nan"), 1.0, 1.0, 1.0]
    rows = [(i, nanvec) for i in range(4)] + [(9, [-1.0, -1.0, -1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lsh_bucket_topk(df, nanvec, k=10, n_bits=4).collect()
    assert {r["vec_id"] for r in got} == {0, 1, 2, 3}
    # every returned row carries a NaN component, so its cosine is NaN —
    # the property under test is that NaN rows bucket deterministically
    # and surface, not that they score
    assert all(math.isnan(r["cos_sim"]) for r in got)


def test_lsh_bucket_topk_small_dim_query(spark):
    """The query-side bucket wraps modulo dim exactly like sign_bucket's
    row expression — 4-dim embeddings with n_bits=8 crashed pre-fix."""
    from advanced_text_extraction_spark.operators.similarity import (
        lsh_bucket_topk)
    rows = [(i, [1.0, -1.0, 1.0, 1.0]) for i in range(5)] + \
           [(9, [-1.0, 1.0, -1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = lsh_bucket_topk(df, [1.0, -1.0, 1.0, 1.0], k=10, n_bits=8)
    ids = [r["vec_id"] for r in got.collect()]
    assert set(ids) == {0, 1, 2, 3, 4}  # the matching-sign bucket only


# ------------------- multimodal failure-as-data (review round 3, part 2)

def test_resize_images_error_row_not_job_kill(spark):
    from advanced_text_extraction_spark.multimodal.media import resize_images
    rows = [(1, "image", bytearray(b"NOTANIMAGE"), {}),
            (2, "image", bytearray(
                b"FIMG" + (2).to_bytes(2, "big") + (2).to_bytes(2, "big")
                + bytes(4)), {})]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, "
              "meta map<string,string>")
    got = {r["media_id"]: r for r in resize_images(df).collect()}
    assert got[1]["meta"]["status"] == "error"
    assert bytes(got[1]["payload"]) == b"NOTANIMAGE"  # passthrough
    assert got[2]["meta"]["status"] == "ok"


def test_sample_frames_truncated_video_keeps_prefix(spark):
    import struct as st

    from advanced_text_extraction_spark.multimodal.media import sample_frames
    frame = b"FIMG" + st.pack(">HH", 2, 2) + bytes(4)
    # header claims 5 frames, only 2 present
    payload = b"FVID" + st.pack(">H", 5) + frame + frame
    df = spark.createDataFrame(
        [(1, "video", bytearray(payload), {})],
        "media_id long, kind string, payload binary, "
        "meta map<string,string>")
    rows = sample_frames(df, every=1).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1]  # prefix, no crash


def test_audio_stats_truncated_and_degenerate(spark):
    import struct as st

    from advanced_text_extraction_spark.multimodal.media import audio_stats
    ok = b"FAUD" + st.pack(">HI", 8000, 4) + bytes([1, 2, 3, 4])
    truncated = b"FAUD" + st.pack(">HI", 8000, 800) + bytes([1, 2])
    zero_sr = b"FAUD" + st.pack(">HI", 0, 4) + bytes([1, 2, 3, 4])
    df = spark.createDataFrame(
        [(1, "audio", bytearray(ok), {}),
         (2, "audio", bytearray(truncated), {}),
         (3, "audio", bytearray(zero_sr), {})],
        "media_id long, kind string, payload binary, "
        "meta map<string,string>")
    got = {r["media_id"]: r for r in audio_stats(df).collect()}
    assert got[1]["n_samples"] == 4
    assert got[2]["n_samples"] == 2  # the samples actually present
    assert 3 not in got              # sr=0 skipped, not ZeroDivisionError


def test_pdf_ocr_zero_page_doc_gets_error_row(spark):
    """A PDF whose objects parse but that has no /Type /Page must emit
    ONE error row, not vanish from the output."""
    from advanced_text_extraction_spark.operators.ocr import pdf_ocr_pages
    doc = b"%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n%%EOF"
    df = spark.createDataFrame([(7, bytearray(doc))],
                               "doc_id long, payload binary")
    rows = pdf_ocr_pages(df).collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "error" and rows[0]["page_idx"] == -1


def test_gen_transcripts_single_conversation():
    from fixtures.gen import gen_transcripts
    # pre-fix: empty Zipf pvals crashed multinomial; the generator also
    # appends a few fixture rows (dupes/specials) beyond n_turns/n_convs
    pdf = gen_transcripts(n_turns=30, n_convs=1, seed=3)
    assert len(pdf) >= 30
    assert (pdf["conv_id"] == "conv-0").sum() >= 30


# ------------------------- config keys wired end-to-end (review round 3)

def test_config_extract_and_ocr_keys_are_wired(tmp_path, monkeypatch):
    """extract.confidence_threshold / extract.max_payload_chars /
    ocr.preprocess were defined in DEFAULT_CONFIG but silently ignored
    by the job CLI — user config must actually reach run_extract_job."""
    import advanced_text_extraction_spark.plans.pipeline as pipeline
    import advanced_text_extraction_spark.sources.session as session
    import scripts.run_extract as run_extract

    calls = {}

    def fake_job(spark, df, output, **kw):
        calls.update(kw)
        from types import SimpleNamespace
        return SimpleNamespace(run_id="t", input_rows=0, buckets_done=0,
                               buckets_skipped=0, wall_sec=0.0)

    class _Read:
        def parquet(self, p):
            return "df"

    class _Spark:
        read = _Read()
        sparkContext = SimpleNamespace(master="local[1]")

        def stop(self):
            pass

    monkeypatch.setattr(pipeline, "run_extract_job", fake_job)
    monkeypatch.setattr(session, "build_session", lambda **kw: _Spark())
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "extract": {"confidence_threshold": 0.9,
                    "max_payload_chars": 1234},
        "ocr": {"preprocess": False, "fallback_engine": "template"},
    }))
    rc = run_extract.main(["--input", str(tmp_path / "in"),
                           "--config", str(cfg)])
    assert rc == 0
    assert calls["options"].ocr_fallback_engine == "template"
    assert calls["options"].ocr_preprocess is False
    assert calls["options"].ocr_confidence_threshold == 0.9
    assert calls["options"].max_payload_chars == 1234


def test_extract_one_max_chars_and_ocr_threshold_rejection():
    from advanced_text_extraction_spark.operators import extract as em
    from advanced_text_extraction_spark.operators.ocr import pdf_ocr_fallback
    from advanced_text_extraction_spark.sources.config import ExtractOptions

    row = em.extract_one("word " * 100, max_chars=10)
    assert row["metadata"]["truncated"] == "true"
    assert row["metadata"]["raw_len"] == "10"

    # an impossible threshold rejects every OCR result: the short-but-
    # valid text layer is kept and the rejection lands in metadata
    short_pdf = build_pdf([["tiny"]], random.Random(3), flate=False)
    payload = base64.b64encode(short_pdf).decode()
    row = em.extract_one(payload, ocr_fallback=pdf_ocr_fallback(
        ExtractOptions(ocr_fallback_engine="template",
                       ocr_confidence_threshold=2.0)))
    assert row["status"] == "ok"
    assert "tiny" in row["extracted_text"]
    assert "below threshold" in row["metadata"]["ocr_error"]


def test_lang_markers_no_accent_continuation_overcount():
    """r5 review finding: a marker that PREFIXES a common word continued
    by a non-ASCII letter ('vēl' inside 'vēlāk') makes the \\b-based SQL
    tier count a hit the kernel's letters-tokenizer never sees — an
    overcount-direction tier divergence on ordinary prose. 'vēl' was
    replaced by 'tika'; pin both the concrete repro and the structural
    property for every marker against the \\b semantics."""
    import re

    from advanced_text_extraction_spark.kernels.lang import (
        STOPWORDS, detect_language)

    # the repro text: kernel says unknown, and the \b-alternation must
    # agree (no lv marker may match inside 'vēlāk' any more)
    text = "vēlāk vēlāk"
    assert detect_language(text) == "unknown"
    for lang, words in STOPWORDS.items():
        pat = r"\b(" + "|".join(sorted(words)) + r")\b"
        assert len(re.findall(pat, text)) == 0, lang
    # structural: a marker containing no accents can't trigger the
    # hazard (ASCII continuations carry no inner \b); markers WITH
    # accents must not be proper prefixes of each other either
    for lang, words in STOPWORDS.items():
        for a in words:
            for b in words:
                if a != b and b.startswith(a):
                    # prefix pairs are fine only when the continuation
                    # starts with an ASCII letter (no \b fires there)
                    assert b[len(a)].isascii(), (lang, a, b)
