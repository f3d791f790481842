"""The extraction operator: an Arrow-native ``mapInArrow`` dispatch.

Reference analog: ``extract_from_file`` + ``batch_extract``
(/root/reference/text_extractor.py:834-885,962-1000) — the resolve →
dispatch → extract state machine, re-expressed as ONE pass over Arrow
record batches: no pandas frame, and no per-row record dict — the kernel
reads the payload and key columns as Python lists, carries every other
input column through zero-copy, and builds the computed columns from
flat per-row lists. Failures become ``status='error'`` rows instead of
exceptions (a row never kills the job; reference failure-list analog
/root/reference/text_extractor.py:987-989).

Dispatch registry mirrors the reference's extractor registry pattern
(/root/reference/text_extractor.py:156-164,320-325): content_type →
kernel, selected per row inside the batch (per-element parsing is
intrinsic, same as any vectorized string kernel).
"""

from __future__ import annotations

import time
from dataclasses import replace
from itertools import accumulate

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.html_extract import extract_html
from ..kernels.lang import detect_language
from ..kernels.normalize import normalize_plain
from ..kernels.office_extract import extract_office
from ..kernels.pdf_extract import PdfDocument
from ..kernels.sniff import sniff_content_type
from ..sources.config import ExtractOptions

EXTRACTOR_VERSION = "ate-spark/0.1"
MAX_PAYLOAD_CHARS = ExtractOptions().max_payload_chars

SPAN_TYPE = T.ArrayType(
    T.StructType([
        T.StructField("block_idx", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("src_start", T.IntegerType(), False),
        T.StructField("src_end", T.IntegerType(), False),
    ])
)

EXTRACTED_FIELDS = [
    T.StructField("content_type", T.StringType(), False),
    T.StructField("extracted_text", T.StringType(), False),
    T.StructField("spans", SPAN_TYPE, False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("language", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("error", T.StringType(), False),
    T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), False),
    T.StructField("extractor_version", T.StringType(), False),
    T.StructField("proc_us", T.LongType(), False),
]


def output_schema(input_schema: T.StructType) -> T.StructType:
    """Input columns carried through + SPEC.md §6 computed columns."""
    return T.StructType(list(input_schema.fields) + EXTRACTED_FIELDS)


def _error_message(exc: Exception) -> str:
    return str(exc) or type(exc).__name__


def _extract_row(payload: str | None, max_chars: int,
                 ocr_fallback) -> tuple:
    """Engine extraction of ONE payload (SPEC.md §1–§6 dispatch) as the
    tuple ``(content_type, extracted_text, spans, confidence, language,
    status, error, metadata)``; ``spans`` is a list of
    ``(block_idx, start, end, src_start, src_end)`` tuples. The Arrow
    kernel builds its columns from these; :func:`extract_one` is the
    record view. A row fails here and nowhere else: any exception after
    the truncation becomes the error row (SPEC.md §6)."""
    raw = payload or ""
    truncated = len(raw) > max_chars
    if truncated:
        raw = raw[:max_chars]
    meta = {"raw_len": str(len(raw))}
    if truncated:
        meta["truncated"] = "true"

    content_type, payload_bytes, err = sniff_content_type(raw)
    # plain text 1.0 (text_extractor.py:945), the document tiers 0.95
    # (:511,639,689,734)
    confidence = 1.0 if content_type == "text" else 0.95
    try:
        if err:
            raise ValueError(err)
        kind, conf = content_type, confidence
        if content_type == "pdf":
            doc = PdfDocument(payload_bytes)
            text, spans, gate, n_pages = doc.text_layer()
            extra = {"text_layer": gate, "n_pages": str(n_pages)}
            if gate == "short" and ocr_fallback is not None:
                # reference P3: text layer too short → OCR the pages
                # (text_extractor.py:501-507); engine-reported mean
                # confidence replaces the 0.95 constant (A6/A7).
                # OCR failure keeps the (valid) short text layer —
                # a fallback must never lose what it falls back FROM.
                # The page images come from the same parse and the
                # inflate budget its content streams left.
                try:
                    ocr_text, ocr_conf = ocr_fallback(doc.page_images())
                except Exception as ocr_exc:
                    extra["ocr_error"] = _error_message(ocr_exc)
                else:
                    if len(ocr_text.strip()) > len(text.strip()):
                        text, conf = ocr_text, float(ocr_conf)
                        spans = ([(0, 0, len(text), -1, -1)]
                                 if text else [])
                        extra["text_layer"] = "ocr"
        elif content_type == "office":
            # kind: 'docx' | 'excel' | 'powerpoint'
            kind, text, spans, extra = extract_office(payload_bytes)
        elif content_type == "html":
            text, spans = extract_html(raw)
            extra = {"n_blocks": str(len(spans))}
        else:
            text = normalize_plain(raw)
            spans = [(0, 0, len(text), 0, len(raw))] if text else []
            extra = {"n_blocks": "1" if text else "0"}
        return (kind, text, spans, conf, detect_language(text), "ok", "",
                {**meta, **extra})
    except Exception as exc:  # failure-as-data: the row, not the task
        return (content_type, "", [], confidence, detect_language(""),
                "error", _error_message(exc), meta)


def extract_one(payload: str | None,
                max_chars: int = MAX_PAYLOAD_CHARS,
                ocr_fallback=None) -> dict:
    """Engine extraction of ONE payload (SPEC.md §1–§6 dispatch) as a
    record. ``max_chars`` is the config extract.max_payload_chars cap.

    ``ocr_fallback`` is the P3 hook (reference text_extractor.py:501-507,
    575-610): ``fn(page_images) -> (text, confidence)``, called when a
    PDF's text layer fails the >50-char gate with
    ``PdfDocument.page_images()`` of the parse that read the text layer;
    ``operators.ocr.pdf_ocr_fallback`` builds one. Without it the gate
    result is still recorded in metadata['text_layer']."""
    (content_type, text, spans, confidence, language, status, error,
     meta) = _extract_row(payload, max_chars, ocr_fallback)
    return {
        "content_type": content_type,
        "extracted_text": text,
        "spans": [
            {"block_idx": b, "start": s, "end": e, "src_start": ss,
             "src_end": se}
            for b, s, e, ss, se in spans],
        "confidence": confidence,
        "language": language,
        "status": status,
        "error": error,
        "metadata": meta,
        "extractor_version": EXTRACTOR_VERSION,
    }


class BucketStatsParam(AccumulatorParam):
    """Accumulator merging per-bucket (input_rows, kept_rows, bytes,
    errors, wall_us) tuples — lineage stats gathered INSIDE the
    extraction pass, so no second scan of the output is ever needed
    (VERDICT r1 #4). input_rows counts BEFORE the folded dedupe mask
    (the true scan size), kept_rows after."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            a[k] = tuple(x + y for x, y in zip(cur, v)) if cur else v
        return a


_NULL_KEY = ("\x00<null>",)  # sentinel: dropDuplicates treats nulls as equal


def _norm_key(key: tuple) -> tuple:
    """Normalize nulls/NaN in a dedupe-key tuple: NaN never compares
    equal to itself, which would silently keep duplicate NaN-keyed rows —
    dropDuplicates semantics treat nulls as equal, so the folded dedupe
    must too."""
    return tuple(_NULL_KEY if k is None or k != k else k for k in key)


# the Arrow types Spark expects for the computed columns (SPEC.md §6)
_SPAN_STRUCT = pa.struct([pa.field(f.name, pa.int32(), nullable=False)
                          for f in SPAN_TYPE.elementType.fields])
_SPANS_ARROW = pa.list_(_SPAN_STRUCT)
_META_ARROW = pa.map_(pa.string(), pa.string())
_BUCKET = "part_bucket"  # the lineage-stats key column (plans/pipeline.py)


def _make_kernel(dedupe_keys: tuple[str, ...] | None,
                 stats_acc=None,
                 options: ExtractOptions = ExtractOptions()):
    """Build the mapInArrow kernel, an ``Iterator[pa.RecordBatch]``
    transform, optionally deduplicating on ``dedupe_keys`` WITHIN the
    partition (first copy wins).

    Partition-local dedupe is exact when the upstream exchange co-locates
    key copies — the flagship repartition hashes on bucket(conv_id), so
    every copy of a (conv_id, turn_idx) key lands in the same partition
    by construction. Folding U1 (reference
    /root/reference/cli.py:430) into the extraction pass removes the
    dropDuplicates aggregate and its exchange: the whole job keeps ONE
    data shuffle. The seen-set holds only this partition's keys
    (|partition| tuples — bounded by the bucket layout, not the corpus).

    Every input column but ``text`` is carried through zero-copy (the
    payload is not output, SPEC.md §6); the computed columns are built
    from flat per-row lists, so no pandas frame and no per-row
    record dict is ever materialised.

    ``stats_acc`` (a BucketStatsParam accumulator) collects per-bucket
    (input_rows, kept_rows, raw_bytes, errors, wall_us) as a side output
    of the same pass — the lineage source, replacing any read-back of
    the written table. input_rows is pre-dedupe (feeding a 30%-duplicate
    corpus must not report 30% fewer input rows).

    ``options`` are the run's :class:`ExtractOptions`."""

    def _extract_batches(batches):
        # the P3 hook is built here, once per task; the worker daemon
        # (sources/worker_daemon.py) has already imported the OCR stack
        ocr_fallback = None
        if options.ocr_fallback_engine is not None:
            from .ocr import pdf_ocr_fallback
            ocr_fallback = pdf_ocr_fallback(options)
        max_chars = options.max_payload_chars
        seen: set | None = set() if dedupe_keys else None
        clock = time.perf_counter_ns
        for rb in batches:
            if not rb.num_rows:
                continue
            names = rb.schema.names
            with_stats = stats_acc is not None and _BUCKET in names
            if with_stats:
                # true INPUT counts, recorded BEFORE the dedupe mask —
                # the per-bucket tuples merge element-wise, so input
                # rows and processed-row stats arrive as separate adds
                vc = pc.value_counts(rb.column(_BUCKET))
                stats_acc.add({
                    b: (n, 0, 0, 0, 0) for b, n in
                    zip(vc.field("values").to_pylist(),
                        vc.field("counts").to_pylist()) if b is not None})
            if dedupe_keys:
                mask = []
                for key in zip(*(rb.column(k).to_pylist()
                                 for k in dedupe_keys)):
                    key = _norm_key(key)
                    if key in seen:
                        mask.append(False)
                    else:
                        seen.add(key)
                        mask.append(True)
                if not all(mask):
                    rb = rb.filter(pa.array(mask))
                    if not rb.num_rows:
                        continue
            rows, row_us = [], []
            for payload in rb.column("text").to_pylist():
                # true per-row kernel time (one perf_counter pair per row
                # is ~100ns against µs-to-ms-scale extraction)
                t0 = clock()
                rows.append(_extract_row(payload, max_chars, ocr_fallback))
                row_us.append((clock() - t0) // 1000)
            (cts, texts, row_spans, confs, langs, statuses, errors,
             metas) = zip(*rows)
            spans = [sp for r in row_spans for sp in r]
            span_offsets = list(accumulate(map(len, row_spans), initial=0))
            meta_offsets = list(accumulate(map(len, metas), initial=0))
            computed = {
                "content_type": pa.array(cts, pa.string()),
                "extracted_text": pa.array(texts, pa.string()),
                "spans": pa.ListArray.from_arrays(
                    pa.array(span_offsets, pa.int32()),
                    pa.StructArray.from_arrays(
                        [pa.array(c, pa.int32())
                         for c in (list(zip(*spans)) or [()] * 5)],
                        fields=list(_SPAN_STRUCT)),
                    type=_SPANS_ARROW),
                "confidence": pa.array(confs, pa.float64()),
                "language": pa.array(langs, pa.string()),
                "status": pa.array(statuses, pa.string()),
                "error": pa.array(errors, pa.string()),
                "metadata": pa.MapArray.from_arrays(
                    pa.array(meta_offsets, pa.int32()),
                    pa.array([k for m in metas for k in m], pa.string()),
                    pa.array([v for m in metas for v in m.values()],
                             pa.string()),
                    type=_META_ARROW),
                "extractor_version": pa.array(
                    [EXTRACTOR_VERSION] * len(rows), pa.string()),
                "proc_us": pa.array(row_us, pa.int64()),
            }
            if with_stats:
                upd: dict[int, list[int]] = {}
                for b, meta, status, us in zip(
                        rb.column(_BUCKET).to_pylist(), metas,
                        statuses, row_us):
                    v = upd.get(b)
                    if v is None:
                        v = upd[b] = [0, 0, 0, 0, 0]
                    v[1] += 1
                    v[2] += int(meta["raw_len"])
                    v[3] += status == "error"
                    v[4] += us
                stats_acc.add({b: tuple(v) for b, v in upd.items()
                               if b is not None})
            keep = [i for i, name in enumerate(names) if name != "text"]
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in keep] + list(computed.values()),
                names=[names[i] for i in keep] + list(computed))

    return _extract_batches


def extract(df: DataFrame,
            dedupe_keys: tuple[str, ...] | None = None,
            stats_acc=None,
            options: ExtractOptions = ExtractOptions(),
            **changes) -> DataFrame:
    """Apply the extraction dispatch over a transcripts DataFrame.

    The payload column must be named ``text``. Every other input column
    is carried through; SPEC.md §6 columns are appended, and the raw
    payload is not output. Partitioning is the caller's concern (see
    ``plans/pipeline.py`` for the bucket layout).
    ``dedupe_keys`` enables partition-local dedupe (see _make_kernel —
    only exact when copies are co-located by the upstream exchange).
    ``stats_acc`` (see :func:`new_stats_accumulator`) collects per-bucket
    lineage stats as a side output of the extraction pass.
    ``options`` defaults to the job's :class:`ExtractOptions`: the P3
    scanned-PDF OCR fallback (SPEC §4/§4c) on engine ``'auto'``, built
    once per task with ``operators.ocr.pdf_ocr_fallback``, and an OCR
    result below the confidence threshold rejected and the short text
    layer kept. Keyword ``changes`` replace fields of ``options``
    (``ocr_fallback_engine=None``: no fallback); an unknown name raises
    ``TypeError``."""
    options = replace(options, **changes)
    carried = T.StructType([f for f in df.schema.fields if f.name != "text"])
    return df.mapInArrow(_make_kernel(dedupe_keys, stats_acc, options),
                         schema=output_schema(carried))


def new_stats_accumulator(spark):
    """Per-bucket lineage-stats accumulator: {bucket: (input_rows,
    kept_rows, raw_bytes, errors, wall_us)} (see :class:`BucketStatsParam`).
    Values are exact for a successfully completed write
    (one task attempt per partition commits); a re-executed stage could
    double-count, so authoritative *row counts* come from parquet footers
    (sources/catalog.bucket_row_counts) and the accumulator supplies the
    diagnostics footers cannot (bytes, error rows, kernel wall time)."""
    return spark.sparkContext.accumulator({}, BucketStatsParam())


def with_confidence_filter(df: DataFrame, threshold: float) -> DataFrame:
    """Optional confidence gate (reference P6: config confidence_threshold,
    /root/reference/text_extractor.py:784)."""
    return df.filter(F.col("confidence") >= threshold)
