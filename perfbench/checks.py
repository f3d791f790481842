"""Reference outputs and correctness checks for every timed operation.

The reference for an extraction is ``extract_one`` run in-process over
the deduped input; the job's output, read back with pyarrow rather than
Spark, must match it row for row. The reference pass also yields the
per-row kernel timings that the traced run reports.
"""

from __future__ import annotations

import hashlib
import os
import time
from multiprocessing import get_context

import pyarrow.dataset as ds

COMPARED = ("content_type", "extracted_text", "spans", "status")


def _span_key(spans) -> tuple:
    return tuple((s["block_idx"], s["start"], s["end"], s["src_start"],
                  s["src_end"]) for s in spans or ())


def _extract_chunk(payloads: list[str]) -> tuple[list[tuple], list[int],
                                                 list[int], list[int],
                                                 list[int]]:
    """Run the kernels over ``payloads`` in this process: per row, the
    compared fields, the extract_one / sniff / lang-id microseconds and
    the CPU microseconds of the extract_one call."""
    from advanced_text_extraction_spark.kernels.lang import detect_language
    from advanced_text_extraction_spark.kernels.sniff import \
        sniff_content_type
    from advanced_text_extraction_spark.operators.extract import extract_one

    clock = time.perf_counter_ns
    rows, extract_us, sniff_us, lang_us, cpu_us = [], [], [], [], []
    for p in payloads:
        c0, t0 = time.process_time_ns(), clock()
        r = extract_one(p)
        extract_us.append((clock() - t0) // 1000)
        cpu_us.append((time.process_time_ns() - c0) // 1000)
        t0 = clock()
        sniff_content_type(p or "")
        sniff_us.append((clock() - t0) // 1000)
        t0 = clock()
        detect_language(r["extracted_text"])
        lang_us.append((clock() - t0) // 1000)
        rows.append((r["content_type"], r["extracted_text"],
                     _span_key(r["spans"]), r["status"]))
    return rows, extract_us, sniff_us, lang_us, cpu_us


def reference_extract(payloads: list[str], procs: int) -> dict:
    """``extract_one`` over ``payloads`` split across ``procs`` forked
    processes: call it before the session starts, while no JVM gateway
    threads exist to fork. Returns the per-row compared fields and timings
    in input order."""
    import advanced_text_extraction_spark.operators.extract  # noqa: F401

    chunks = [payloads[i::procs] for i in range(procs)]
    with get_context("fork").Pool(procs) as pool:
        parts = pool.map(_extract_chunk, chunks)
    keys = ("rows", "extract_us", "sniff_us", "lang_us", "cpu_us")
    out = {k: [None] * len(payloads) for k in keys}
    for i, part in enumerate(parts):
        for key, values in zip(keys, part):
            out[key][i::procs] = values
    return out


def read_extracted(root: str) -> list[dict]:
    """Every output file of a warehouse as ``{path, bucket, rows}``."""
    base = os.path.join(root, "extracted")
    files = []
    for frag in ds.dataset(base, format="parquet",
                           partitioning="hive").get_fragments():
        bucket = int(frag.path.rsplit("part_bucket=", 1)[1].split("/")[0])
        rows = frag.to_table(columns=["conv_id", "turn_idx", *COMPARED]) \
            .to_pylist()
        files.append({"path": frag.path, "bucket": bucket, "rows": rows})
    return files


def check_extracted(files: list[dict], expected: dict[tuple, tuple]
                    ) -> list[str]:
    """Problems found comparing an output warehouse with ``expected``
    (``(conv_id, turn_idx)`` -> compared fields). Empty means correct:
    every expected key appears exactly once with equal fields, each file
    is in ``(conv_id, turn_idx)`` order, and each conversation sits in
    one bucket."""
    problems: list[str] = []
    seen: set[tuple] = set()
    conv_bucket: dict[str, int] = {}
    for f in files:
        prev = None
        for r in f["rows"]:
            key = (r["conv_id"], r["turn_idx"])
            if prev is not None and key < prev:
                problems.append(f"{f['path']}: {key} after {prev}")
            prev = key
            if conv_bucket.setdefault(r["conv_id"], f["bucket"]) \
                    != f["bucket"]:
                problems.append(f"{r['conv_id']} in two buckets")
            if key in seen:
                problems.append(f"{key} written twice")
            seen.add(key)
            want = expected.get(key)
            got = (r["content_type"], r["extracted_text"],
                   _span_key(r["spans"]), r["status"])
            if want is None:
                problems.append(f"{key} not in the input")
            elif got != want:
                field = COMPARED[next(i for i in range(4)
                                      if got[i] != want[i])]
                problems.append(f"{key}: {field} differs")
    missing = len(expected.keys() - seen)
    if missing:
        problems.append(f"{missing} expected rows missing")
    return problems


def rows_hash(rows) -> str:
    """Order-independent digest of collected rows."""
    return hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


def check_clusters(clusters: dict[int, int],
                   planted: list[tuple[int, int]]) -> list[str]:
    """Every planted twin must share its source's cluster."""
    return [f"twin {t} not clustered with {s}" for t, s in planted
            if clusters.get(t) is None or clusters.get(t) != clusters.get(s)]
