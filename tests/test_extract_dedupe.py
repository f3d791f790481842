"""Partition-local dedupe inside the extraction kernel (U1 folded into
the mapInPandas pass): pure-pandas tests of the batch iterator — no Spark
session needed, the kernel is an iterator[pd.DataFrame] transform."""

from __future__ import annotations

import pandas as pd

from advanced_text_extraction_spark.operators.extract import _make_kernel


def _batches(rows, size=3):
    df = pd.DataFrame(rows)
    return iter(df.iloc[i:i + size] for i in range(0, len(df), size))


def _run(kernel, rows, size=3):
    return pd.concat(list(kernel(_batches(rows, size))), ignore_index=True)


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
    keys = list(zip(out.conv_id, out.turn_idx))
    assert len(keys) == len(set(keys)) == 4
    # first copy wins — row order of survivors preserved
    assert keys == [("a", 0), ("a", 1), ("b", 0), ("b", 1)]


def test_no_dedupe_when_disabled():
    out = _run(_make_kernel(None), ROWS)
    assert len(out) == len(ROWS)


def test_fully_duplicate_batch_is_skipped():
    rows = [ROWS[0], ROWS[0], ROWS[0], ROWS[0]]
    out = _run(_make_kernel(("conv_id", "turn_idx")), rows, size=2)
    assert len(out) == 1
    assert out.loc[0, "extracted_text"] == "hello world"


def test_null_and_nan_keys_dedupe_like_dropduplicates():
    """dropDuplicates treats nulls as equal; the folded dedupe must too —
    raw NaN tuples would never match themselves (NaN != NaN) and silently
    keep every null-keyed copy (ADVICE r1)."""
    rows = [
        {"conv_id": None, "turn_idx": float("nan"), "text": "null key"},
        {"conv_id": None, "turn_idx": float("nan"), "text": "null key"},
        {"conv_id": "a", "turn_idx": 0, "text": "real key"},
        {"conv_id": None, "turn_idx": float("nan"), "text": "null key"},
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
    out = _run(_make_kernel(("conv_id", "turn_idx"), stats_acc=acc), rows)
    assert set(acc.value) == {0, 1}
    # v[0] = TRUE input rows (pre-dedupe: feeding a duplicate-heavy
    # corpus must not deflate lineage input_rows), v[1] = kept rows
    assert sum(v[0] for v in acc.value.values()) == len(rows)
    assert sum(v[1] for v in acc.value.values()) == len(out)
    raw_bytes = sum(v[2] for v in acc.value.values())
    assert raw_bytes == int(out.metadata.map(lambda m: int(m["raw_len"])).sum())
    assert all(v[3] == 0 for v in acc.value.values())  # no error rows
    assert all(v[4] >= 0 for v in acc.value.values())  # wall_us


def test_pdf_ocr_fallback_hook():
    """P3 gate + OCR fallback extension point (reference
    text_extractor.py:501-507,575-610): without a registered engine the
    short text layer is kept and flagged; with one, its text and mean
    confidence replace the text-layer result."""
    import random

    from advanced_text_extraction_spark.operators import extract as X
    from fixtures.gen import gen_pdf_payload

    payload = gen_pdf_payload(random.Random(5), short=True)
    base = X.extract_one(payload)
    assert base["metadata"]["text_layer"] == "short"
    assert base["confidence"] == 0.95

    calls = []

    def fake_ocr(pdf_bytes: bytes):
        calls.append(pdf_bytes)
        assert pdf_bytes.startswith(b"%PDF")
        return "recovered by ocr " * 10, 0.81

    out = X.extract_one(payload, ocr_fallback=fake_ocr)
    assert calls, "fallback not invoked on short text layer"
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
        assert col in out.columns
    assert (out.status == "ok").all()
