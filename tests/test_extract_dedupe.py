"""Partition-local dedupe inside the extraction kernel (U1 folded into
the mapInArrow pass): pure-Arrow tests of the batch iterator — no Spark
session needed, the kernel is an iterator[pa.RecordBatch] transform."""

from __future__ import annotations

import base64
import random

import pyarrow as pa

from advanced_text_extraction_spark.operators.extract import (
    MAX_PAYLOAD_CHARS, _make_kernel, extract_one)
from advanced_text_extraction_spark.operators.ocr import pdf_ocr_fallback
from advanced_text_extraction_spark.sources.config import ExtractOptions


def _batches(rows, size=3):
    table = pa.Table.from_pylist(rows)
    return iter(table.slice(i, size).to_batches()[0]
                for i in range(0, len(rows), size))


def _run(kernel, rows, size=3) -> list[dict]:
    return pa.Table.from_batches(list(kernel(_batches(rows, size)))) \
        .to_pylist()


ROWS = [
    {"conv_id": "a", "turn_idx": 0, "text": "hello world"},
    {"conv_id": "a", "turn_idx": 1, "text": "second turn"},
    {"conv_id": "a", "turn_idx": 0, "text": "hello world"},   # dup of row 0
    {"conv_id": "b", "turn_idx": 0, "text": "other conv"},
    {"conv_id": "a", "turn_idx": 1, "text": "second turn"},   # dup of row 1
    {"conv_id": "b", "turn_idx": 1, "text": "more text"},
]


def test_dedupe_drops_later_copies_across_batches():
    out = _run(_make_kernel(("conv_id", "turn_idx")), ROWS, size=2)
    keys = [(r["conv_id"], r["turn_idx"]) for r in out]
    assert len(keys) == len(set(keys)) == 4
    # first copy wins — row order of survivors preserved
    assert keys == [("a", 0), ("a", 1), ("b", 0), ("b", 1)]


def test_no_dedupe_when_disabled():
    out = _run(_make_kernel(None), ROWS)
    assert len(out) == len(ROWS)


def test_fully_duplicate_batch_is_skipped():
    rows = [ROWS[0], ROWS[0], ROWS[0], ROWS[0]]
    batches = list(_make_kernel(("conv_id", "turn_idx"))(
        _batches(rows, size=2)))
    assert len(batches) == 1  # the second batch is all copies: no output
    out = pa.Table.from_batches(batches).to_pylist()
    assert len(out) == 1
    assert out[0]["extracted_text"] == "hello world"


def test_null_and_nan_keys_dedupe_like_dropduplicates():
    """dropDuplicates treats nulls as equal; the folded dedupe must too —
    raw NaN tuples would never match themselves (NaN != NaN) and silently
    keep every null-keyed copy (ADVICE r1)."""
    rows = [
        {"conv_id": None, "turn_idx": float("nan"), "text": "null key"},
        {"conv_id": None, "turn_idx": float("nan"), "text": "null key"},
        {"conv_id": "a", "turn_idx": 0.0, "text": "real key"},
        {"conv_id": None, "turn_idx": float("nan"), "text": "null key"},
        {"conv_id": None, "turn_idx": None, "text": "null key"},
    ]
    out = _run(_make_kernel(("conv_id", "turn_idx")), rows, size=2)
    assert len(out) == 2  # one null-keyed survivor + one real row


def test_stats_accumulator_collects_per_bucket():
    """Lineage stats are a side output of the extraction pass (no
    read-back of the written table — VERDICT r1 #4)."""

    class FakeAcc:
        def __init__(self):
            self.value = {}

        def add(self, upd):
            from advanced_text_extraction_spark.operators.extract import (
                BucketStatsParam,
            )
            BucketStatsParam().addInPlace(self.value, upd)

    acc = FakeAcc()
    rows = [dict(r, part_bucket=i % 2) for i, r in enumerate(ROWS)]
    rows.append({"conv_id": "c", "turn_idx": 0, "part_bucket": 1,
                 "text": "JVBERi0xLjQKbm90IGEgcGRm!!"})  # broken base64
    out = _run(_make_kernel(("conv_id", "turn_idx"), stats_acc=acc), rows)
    assert set(acc.value) == {0, 1}
    # v[0] = TRUE input rows (pre-dedupe: feeding a duplicate-heavy
    # corpus must not deflate lineage input_rows), v[1] = kept rows
    assert sum(v[0] for v in acc.value.values()) == len(rows)
    assert sum(v[1] for v in acc.value.values()) == len(out)
    for b in (0, 1):
        kept = [r for r in out if r["part_bucket"] == b]
        assert acc.value[b][:4] == (
            sum(1 for r in rows if r["part_bucket"] == b), len(kept),
            sum(int(dict(r["metadata"])["raw_len"]) for r in kept),
            sum(r["status"] == "error" for r in kept))
        assert acc.value[b][4] == sum(r["proc_us"] for r in kept)  # wall_us
    assert acc.value[1][3] == 1  # the broken-base64 row
    assert acc.value[0][3] == 0


def test_pdf_ocr_fallback_hook():
    """P3 gate + OCR fallback extension point (reference
    text_extractor.py:501-507,575-610): without a registered engine the
    short text layer is kept and flagged; with one, its text and mean
    confidence replace the text-layer result."""
    from advanced_text_extraction_spark.operators import extract as X
    from fixtures.gen import gen_pdf_payload

    payload = gen_pdf_payload(random.Random(5), short=True)
    base = X.extract_one(payload)
    assert base["metadata"]["text_layer"] == "short"
    assert base["confidence"] == 0.95

    calls = []

    def fake_ocr(pages: list):
        # the page images of the parse that read the text layer: one
        # list of (width, height, raw) per page
        calls.append(pages)
        assert isinstance(pages, list)
        assert all(isinstance(images, list) for images in pages)
        return "recovered by ocr " * 10, 0.81

    out = X.extract_one(payload, ocr_fallback=fake_ocr)
    assert calls, "fallback not invoked on short text layer"
    assert len(calls[0]) == int(base["metadata"]["n_pages"])
    assert out["metadata"]["text_layer"] == "ocr"
    assert out["extracted_text"].startswith("recovered by ocr")
    assert out["confidence"] == 0.81
    # a healthy text layer never triggers OCR
    calls.clear()
    healthy = gen_pdf_payload(random.Random(6), short=False)
    X.extract_one(healthy, ocr_fallback=fake_ocr)
    assert not calls


def test_extraction_columns_present_after_dedupe():
    out = _run(_make_kernel(("conv_id", "turn_idx")), ROWS)
    for col in ("content_type", "extracted_text", "spans", "confidence",
                "language", "status", "error", "metadata",
                "extractor_version", "proc_us"):
        assert col in out[0]
    assert "text" not in out[0]  # the raw payload is not output
    assert all(r["status"] == "ok" for r in out)


def test_kernel_columns_equal_extract_one_row_for_row():
    """The Arrow kernel is extract_one, column for column: one mixed
    batch of every payload kind, spans and metadata included, with the
    carried input columns unchanged and the payload dropped."""
    from fixtures.gen import (
        gen_docx_payload, gen_html, gen_pdf_payload, gen_plain,
        gen_pptx_payload, gen_xlsx_payload)

    rng = random.Random(11)
    payloads = [
        gen_plain(rng), gen_html(rng), gen_pdf_payload(rng),
        gen_pdf_payload(rng, short=True), gen_docx_payload(rng),
        gen_xlsx_payload(rng), gen_pptx_payload(rng),
        "JVBERi0xLjQK@@@not base64",                      # broken base64
        base64.b64encode(b"PK\x03\x04 not a zip").decode(),
        None, "", "   ​  ",
        "Привіт і світ " * 3 + "　日本語のテキストです",
        "word " * (MAX_PAYLOAD_CHARS // 5 + 7),             # over the cap
    ]
    payloads = [p[0] if isinstance(p, tuple) else p for p in payloads]
    rows = [{"conv_id": "c", "turn_idx": i, "role": "user", "text": p}
            for i, p in enumerate(payloads)]
    batch = pa.RecordBatch.from_pylist(rows)
    options = ExtractOptions()  # the kernel's default: OCR fallback armed
    fallback = pdf_ocr_fallback(options)
    out = pa.Table.from_batches(list(_make_kernel(None)(iter([batch]))))
    assert out.column_names[:3] == ["conv_id", "turn_idx", "role"]
    got = out.to_pylist()
    assert len(got) == len(payloads)
    kinds = set()
    for row, payload in zip(got, payloads):
        want = extract_one(payload, options.max_payload_chars, fallback)
        kinds.add((want["content_type"], want["status"]))
        assert row.pop("proc_us") >= 0
        row["metadata"] = dict(row["metadata"])
        assert row.pop("conv_id") == "c" and row.pop("role") == "user"
        row.pop("turn_idx")
        assert row == want
    assert {"text", "html", "pdf", "docx", "excel",
            "powerpoint"} <= {k for k, _ in kinds}
    assert ("pdf", "error") in kinds and ("office", "error") in kinds
    assert got[-1]["metadata"]["truncated"] == "true"
