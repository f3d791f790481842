#!/usr/bin/env python
"""Headless extraction job — the spark-submit entry point.

    spark-submit [--master local[32]] --py-files dist/ate_spark.zip \
        scripts/run_extract.py \
        --input /path/to/transcripts_parquet --output /path/to/warehouse \
        [--n-buckets 32] [--no-resume] [--config cfg.json]

Reads the transcript table (BASELINE.json:input_hint shape), runs the
extraction pipeline (plans/pipeline.py), writes ``extracted/`` +
``lineage/`` under --output, and prints a one-line JSON summary.
Replaces the reference's CLI batch driver (/root/reference/cli.py:121-178).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="transcript extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", default=None,
                    help="warehouse root; defaults to config warehouse.path")
    ap.add_argument("--config", default=None,
                    help="JSON config file shallow-merged over defaults "
                         "(reference text_extractor.py:778-803 contract); "
                         "explicit CLI flags override config values")
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--ocr-fallback", default=None,
                    help="OCR engine for the scanned-PDF P3 fallback "
                         "(default config ocr.fallback_engine, 'auto'); "
                         "'none' disables")
    args = ap.parse_args(argv)

    from advanced_text_extraction_spark.plans.pipeline import run_extract_job
    from advanced_text_extraction_spark.sources.config import (
        DEFAULT_CONFIG,
        ExtractOptions,
        load_config,
    )
    from advanced_text_extraction_spark.sources.session import build_session

    cfg = load_config(args.config)
    if args.ocr_fallback is not None:
        cfg["ocr"] = {**cfg.get("ocr", {}),
                      "fallback_engine": args.ocr_fallback}
    options = ExtractOptions.from_config(cfg)
    # The merge is shallow by reference contract (a user section replaces
    # the default section wholesale, text_extractor.py:799) — so every
    # read falls back to the package default rather than [] - indexing,
    # keeping a partial user section (e.g. {"job": {"n_buckets": 16}})
    # runnable instead of a KeyError.
    job = cfg.get("job", {})
    job_d = DEFAULT_CONFIG["job"]
    output = (args.output
              or cfg.get("warehouse", {}).get(
                  "path", DEFAULT_CONFIG["warehouse"]["path"]))
    n_buckets = (args.n_buckets if args.n_buckets is not None
                 else job.get("n_buckets", job_d["n_buckets"]))
    resume = job.get("resume", job_d["resume"]) and not args.no_resume

    # the master is spark-submit's --master, or its default local[*]
    # without one; SPARK_GRAFT_CPUS sizes only runs outside spark-submit
    spark = build_session(app_name="ate-extract")
    try:
        df = spark.read.parquet(args.input)
        stats = run_extract_job(spark, df, output, n_buckets=n_buckets,
                                resume=resume, options=options)
        print(json.dumps({
            "run_id": stats.run_id,
            "master": spark.sparkContext.master,
            "input_rows": stats.input_rows,
            "buckets_done": stats.buckets_done,
            "buckets_skipped": stats.buckets_skipped,
            "wall_sec": round(stats.wall_sec, 3),
            "turns_per_sec": round(stats.input_rows / stats.wall_sec, 1)
            if stats.wall_sec else None,
        }))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
