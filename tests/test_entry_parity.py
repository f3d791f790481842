"""Every entry point extracts a turn alike. The spark-submit job's
library call (``run_extract_job``), the flagship plan as the driver entry
builds it, and the streaming tier all default to one ``ExtractOptions``
value, the same one the CLI reads from the default config: the OCR
fallback on engine ``'auto'`` with a 0.5 confidence threshold. A scanned
PDF is OCR'd alike everywhere, and a short text layer whose OCR has no
confidence is kept, with the rejection recorded, everywhere."""

from __future__ import annotations

import random

import pandas as pd

from advanced_text_extraction_spark.plans.pipeline import (
    flagship_plan,
    run_extract_job,
)
from advanced_text_extraction_spark.sources import catalog
from advanced_text_extraction_spark.sources.config import (
    ExtractOptions,
    load_config,
)
from advanced_text_extraction_spark.streaming.extract_stream import (
    start_extraction_stream,
)
from fixtures.gen import gen_pdf_payload, gen_scanned_pdf_payload

COMPARED = ["content_type", "extracted_text", "spans", "confidence",
            "status", "metadata"]


def _rows(df) -> dict:
    return {(r.conv_id, r.turn_idx): (
        r.content_type, r.extracted_text,
        [tuple(s) for s in r.spans], r.confidence, r.status,
        dict(r.metadata)) for r in df.select("conv_id", "turn_idx",
                                             *COMPARED).collect()}


def test_cli_options_are_the_defaults():
    assert ExtractOptions.from_config(load_config(None)) == ExtractOptions()


def test_every_entry_point_extracts_alike(spark, tmp_path):
    rng = random.Random(11)
    scanned, expected = gen_scanned_pdf_payload(rng)
    short = gen_pdf_payload(rng, short=True)
    pdf = pd.DataFrame({
        "conv_id": ["c0", "c1"], "turn_idx": [0, 0],
        "role": ["user", "tool"], "text": [scanned, short],
        "tool": [None, None],
        "ts": [pd.Timestamp("2026-01-01", tz="UTC")] * 2})
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["tool"] = pdf["tool"].astype("string")
    pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    inp = tmp_path / "in"
    inp.mkdir()
    pdf.to_parquet(inp / "turns.parquet", index=False)
    df = spark.read.parquet(str(inp))

    root = str(tmp_path / "wh")
    run_extract_job(spark, df, root, n_buckets=8, salt=2)
    job = _rows(catalog.read_extracted(spark, root))
    # as __spark_entry__._flagship_extracted builds it
    driver = _rows(flagship_plan(df, n_buckets=8, salt=2))
    out = str(tmp_path / "stream")
    start_extraction_stream(spark, str(inp), out,
                            str(tmp_path / "ckpt")).awaitTermination(120)
    stream = _rows(spark.read.parquet(out))

    assert job == driver == stream
    ocr = job[("c0", 0)]
    assert ocr[1] == expected and ocr[5]["text_layer"] == "ocr"
    kept = job[("c1", 0)]
    assert kept[5]["text_layer"] == "short"
    assert kept[5]["ocr_error"].endswith("below threshold 0.5")
