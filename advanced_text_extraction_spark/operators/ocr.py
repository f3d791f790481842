"""OCR operators: the Spark surface over the from-scratch OCR engine.

Reference analogs:
- image OCR source S9 (/root/reference/text_extractor.py:887-903):
  ``ocr_images`` — decode raster payloads, preprocess, recognize; one
  fixed-schema row per image, failure-as-data.
- PDF OCR source S5 (:575-610): ``pdf_ocr_pages`` + the
  ``pdf_ocr_fallback`` factory, whose callable the extraction kernel
  passes to ``extract_one`` for the P3 gate (text layer <= 50 chars ->
  OCR the page images, '\\n\\n' page join, mean page confidence
  :601-603).
- A6 token-confidence mean (:431-437): ``token_confidence_stats`` —
  explode + filter(conf > 0) + avg/100, the columnar re-expression of the
  tesseract dict aggregation.
- A7 region/page-confidence mean (:446-457,:466-478,:601-603): per-page
  rows from ``pdf_ocr_pages``; ``page_confidence_stats`` aggregates.

Scale notes: payloads stay opaque binary until the mapInPandas kernel;
recognition is a handful of vectorized numpy passes per image (no
per-pixel Python); engine/template tables are module-level so each Python
worker pays init once (reference eager-init analog :315-325). The A6/A7
aggregations are plain columnar explode+agg — JVM-side, codegen'd.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.image_codec import decode_image, decode_raw_gray
from ..kernels.ocr import normalize_to_charset, ocr_image, render_page
from ..kernels.pdf_extract import extract_page_images
from ..sources.config import ExtractOptions

OCR_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("n_tokens", T.IntegerType(), False),
    T.StructField("token_confs", T.ArrayType(T.DoubleType()), False),
    T.StructField("engine", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
])


def ocr_images(df: DataFrame, id_col: str = "media_id",
               payload_col: str = "payload", engine: str = "auto",
               preprocess: bool = True) -> DataFrame:
    """OCR a binary raster column (S9). Undecodable/failed payloads become
    status='error' rows — a row never kills the job."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    arr = decode_image(bytes(payload))
                    res = ocr_image(arr, engine=engine,
                                    preprocess=preprocess)
                    toks = [float(c) for c in res["token_confs"]]
                    rows.append((int(mid), res["text"],
                                 float(res["confidence"]),
                                 sum(1 for c in toks if c > 0),  # P5
                                 toks, res["engine"], "ok"))
                except Exception:
                    rows.append((int(mid), "", 0.0, 0, [], engine, "error"))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              OCR_SCHEMA.fields])

    return df.select(F.col(id_col), F.col(payload_col)) \
        .mapInPandas(kernel, schema=OCR_SCHEMA)


# ---------------------------------------------------------------------------
# PDF OCR (S5) + the P3 fallback hook
# ---------------------------------------------------------------------------

def _ocr_page_stream(pages: list, engine: str, preprocess: bool):
    """Yield (page_idx, joined_text, confidence) per PDF page of
    ``PdfDocument.page_images()`` — the ONE per-page decode+OCR loop
    behind the scalar S5 path (``ocr_pdf_bytes``), the P3 hook and the
    page-row operator (``pdf_ocr_pages``). Confidence is None for a page
    with no embedded images: it has nothing to score, and a 0.0 would
    drag every downstream mean."""
    for p, images in enumerate(pages):
        texts = []
        confs = []
        for (w, h, raw) in images:
            arr = decode_raw_gray(raw, w, h)
            res = ocr_image(arr, engine=engine, preprocess=preprocess)
            texts.append(res["text"])
            confs.append(float(res["confidence"]))
        yield (p, "\n".join(t for t in texts if t),
               float(np.mean(confs)) if confs else None)


def _ocr_pages(pages: list, engine: str, preprocess: bool
               ) -> tuple[str, float, list[float | None]]:
    """OCR every page image: (text, mean_page_confidence, page_confs);
    see :func:`ocr_pdf_bytes`."""
    page_texts: list[str] = []
    page_confs: list[float | None] = []
    for _p, text, conf in _ocr_page_stream(pages, engine, preprocess):
        page_texts.append(text)
        page_confs.append(conf)
    text = "\n\n".join(page_texts)
    scored = [c for c in page_confs if c is not None]
    conf = float(np.mean(scored)) if scored else 0.0
    return text, conf, page_confs


def ocr_pdf_bytes(pdf_bytes: bytes, engine: str = "auto",
                  preprocess: bool = True
                  ) -> tuple[str, float, list[float | None]]:
    """OCR every page image of a scanned PDF.

    Returns (text, mean_page_confidence, page_confs): pages joined
    '\\n\\n', confidence = mean over pages (reference :601-603 — the A7
    page-level aggregation). A page with NO embedded images has nothing
    to score — its page_confs slot is None and it is excluded from the
    doc mean (a 0.0 there would halve the confidence of an otherwise
    fully-OCR'd scan every time a blank page appears)."""
    return _ocr_pages(extract_page_images(pdf_bytes), engine, preprocess)


def pdf_ocr_fallback(options: ExtractOptions = ExtractOptions()):
    """The P3 hook for ``extract_one(..., ocr_fallback=)``: PDFs whose
    text layer fails the >50-char gate get their page images OCR'd
    (reference auto method :501-507) with ``options``' engine and
    preprocessing. Returns ``fn(page_images) -> (text, confidence)``,
    taking ``PdfDocument.page_images()`` of the row's one parse, and
    changes no state. An OCR result below ``ocr_confidence_threshold``
    (reference text_extractor.py:784) is REJECTED — the caller keeps the
    short-but-valid text layer and records the rejection in
    metadata['ocr_error']."""
    threshold = options.ocr_confidence_threshold

    def _fallback(pages: list) -> tuple[str, float]:
        text, conf, _pages = _ocr_pages(
            pages, options.ocr_fallback_engine, options.ocr_preprocess)
        if conf < threshold:
            raise ValueError(
                f"ocr confidence {conf:.3f} below threshold {threshold}")
        return text, conf
    return _fallback


PDF_PAGE_OCR_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("page_idx", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    # nullable: a page with no embedded images carries no confidence —
    # NULL is skipped by the A7 avg, where a 0.0 would drag the doc mean
    T.StructField("page_confidence", T.DoubleType(), True),
    T.StructField("status", T.StringType(), False),
])


def pdf_ocr_pages(df: DataFrame, id_col: str = "doc_id",
                  payload_col: str = "payload", engine: str = "auto",
                  preprocess: bool = True) -> DataFrame:
    """Row-exploding PDF OCR: one output row per page (S5 as a table
    operator; page rows feed the A7 aggregation)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                # Page rows buffer per doc: a failure on page k must not
                # leave pages <k behind as 'ok' rows — a doc is either all
                # its pages or ONE error row, so A7 never averages a
                # partially-OCR'd doc as healthy.
                doc_rows = []
                try:
                    for p, text, conf in _ocr_page_stream(
                            extract_page_images(bytes(payload)), engine,
                            preprocess):
                        doc_rows.append((int(did), p, text, conf, "ok"))
                except Exception:
                    doc_rows = [(int(did), -1, "", 0.0, "error")]
                if not doc_rows:
                    # a PDF that parses into objects but yields zero page
                    # objects (object-stream pages, truncation after the
                    # catalog) must not VANISH from the output — the
                    # invariant is all pages or ONE error row
                    doc_rows = [(int(did), -1, "", 0.0, "error")]
                rows.extend(doc_rows)
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              PDF_PAGE_OCR_SCHEMA.fields])

    return df.select(F.col(id_col), F.col(payload_col)) \
        .mapInPandas(kernel, schema=PDF_PAGE_OCR_SCHEMA)


# ---------------------------------------------------------------------------
# confidence aggregations (A6 / A7) — columnar, JVM-side
# ---------------------------------------------------------------------------

def token_confidence_stats(ocr_df: DataFrame) -> DataFrame:
    """A6: mean of positive token confidences / 100, per document.
    Columnar re-expression of the tesseract dict aggregation (:431-437):
    explode token_confs -> filter conf > 0 (P5) -> avg / 100. Docs with
    no positive-confidence tokens (error rows, empty scans) emit no row
    — by design, matching the reference's dict aggregation over found
    tokens only (an explode_outer here would be dead code: its NULL
    placeholder rows cannot survive the conf > 0 filter)."""
    tok = ocr_df.select("media_id",
                        F.explode("token_confs").alias("conf"))
    return tok.filter(F.col("conf") > 0) \
        .groupBy("media_id") \
        .agg((F.avg("conf") / 100.0).alias("token_conf_mean"),
             F.count("conf").alias("n_tokens"))


def page_confidence_stats(pages_df: DataFrame) -> DataFrame:
    """A7: mean page confidence per document (reference :601-603)."""
    return pages_df.filter(F.col("status") == "ok") \
        .groupBy("doc_id") \
        .agg(F.avg("page_confidence").alias("page_conf_mean"),
             F.count("page_idx").alias("n_pages"))


# ---------------------------------------------------------------------------
# the oracle-checkable roundtrip (driver query)
# ---------------------------------------------------------------------------

ROUNDTRIP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("ocr_text", T.StringType(), False),
    T.StructField("n_tokens", T.IntegerType(), False),
    T.StructField("confidence", T.DoubleType(), False),
])


def ocr_roundtrip(docs: DataFrame, text_col: str = "text",
                  max_chars: int = 64, scale: int = 3) -> DataFrame:
    """Render each document's charset-normalized prefix as a page image,
    OCR it back, and emit what the engine read.

    Recognition of a clean render is exact by construction (see
    kernels/ocr.py docstring), so the DuckDB oracle can check this whole
    OCR path by computing the same normalization in SQL and comparing
    strings — the driver-level correctness gate for the OCR tier."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf[text_col]):
                src = "" if text is None else str(text)[:max_chars]
                src = "".join(c if " " <= c <= "~" else " " for c in src)
                norm = normalize_to_charset(src)
                if norm:
                    img = render_page(norm, scale=scale)
                    res = ocr_image(img, engine="template",
                                    preprocess=False)
                    toks = [c for c in res["token_confs"] if c > 0]
                    rows.append((int(did), res["text"], len(toks),
                                 float(res["confidence"])))
                else:
                    rows.append((int(did), "", 0, 0.0))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              ROUNDTRIP_SCHEMA.fields])

    return docs.select("doc_id", F.col(text_col)) \
        .mapInPandas(kernel, schema=ROUNDTRIP_SCHEMA)
