#!/usr/bin/env python
"""bench.py — headline timings for the PySpark extraction engine.

    python bench.py

Runs every ``HEADLINE`` query from ``__spark_entry__.queries()`` over
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test tables), plus the
flagship extraction plan (``plans.pipeline.flagship_plan`` at the job's
default layout) over ``MULT`` x the synthesized transcripts. Each one runs
``REPEATS`` times in one session on ``local[$SPARK_GRAFT_CPUS]`` (default:
the CPUs this process may run on). Prints ONE JSON line:

    {"metric": "headline_total_sec", "value": <sum of per-query minima>,
     "unit": "sec", "queries": {name: min_s},
     "queries_median": {name: median_s}, "host": {...}, ...}

and writes nothing. Materialization uses the ``noop`` sink so every output
column is computed (a bare .count() would let Catalyst prune the
projection). This is the quick per-operator view; the gated benchmark is
``perfbench/`` (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# transcript multiplier for the extraction throughput measurement
MULT = 25
# timed runs per query; min is the interference-free estimate, median the
# typical one
REPEATS = 3

# headline subset of __spark_entry__.queries() — one per operator family
HEADLINE = [
    "summary_stats",        # A1 scalar aggs
    "full_summary_by_lang", # A5 grouped summary
    "latest_per_user",      # W1 window latest-per-key
    "user_event_seq",       # W4 row_number enumeration
    "token_stats",          # F4 text stats
    "tpch_q1",              # wide agg scan
    "revenue_by_nation",    # multi-join star query
    "top_customers",        # join + top-k
    "quality_score",        # text-analysis scoring
    "lang_id_sql",          # language id (native SQL path)
    "simhash32",            # near-dup fingerprint
    "minhash_signatures",   # MinHash
    "lsh_candidate_pairs",  # LSH banding + self-join
    "dedup_clusters",       # pairs -> connected-component dup groups
    "cosine_topk",          # brute-force ANN baseline
    "ann_lsh_bucket_topk",  # bucketed ANN scale path
    "extract_html_roundtrip",  # HTML kernel through the real operator
    "ocr_roundtrip",        # OCR tier: render + recognize round trip
    "gopher_quality_flags",  # curation: quality gates (codegen projection)
    "paragraph_dedup",      # curation: corpus-wide dedup (one exchange)
    "decontaminate",        # curation: broadcast eval-set overlap
    "unigram_logprob",      # corpus-shaping: corpus-fit LM quality proxy
    "bigram_logprob",       # corpus-shaping: conditional-LM tier (r3)
    "tfidf_topk",           # text analysis: keyword extraction (r3)
    "bm25_topk",            # text analysis: Okapi ranking sibling (r3)
    "stratified_sample",    # corpus-shaping: map-only mix rebalance (r4)
    "pack_sequences",       # corpus-shaping: sharded token packing (r4)
    "sessionize_batch",     # windows: gap sessionization, one exchange (r4)
    "windowed_counts_batch",  # windows: tumbling event-time counts (r5)
    "curate_e2e",           # flagship: extract->policy->sample chain (r4)
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sf_of(sf_dir: str):
    """Scale factor parsed from the dir name; None (valid JSON) for a
    custom corpus dir."""
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return None


def _timed(fn) -> list[float]:
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return walls


def run_headline() -> dict:
    import __spark_entry__ as entrymod
    from advanced_text_extraction_spark.plans.pipeline import flagship_plan
    from advanced_text_extraction_spark.sources.session import (
        build_session, driver_memory, host_cpus,
    )
    from perfbench.probes import host_facts

    spark = build_session(
        app_name="ate-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    walls: dict[str, list[float]] = {}
    try:
        qs = entrymod.queries()
        # untimed warmup: start the Python UDF workers on every core and
        # JIT the scan paths, so timings reflect steady-state throughput
        warm = entrymod.synth_transcripts(spark, SF_DIR).limit(2048)
        _materialize(flagship_plan(warm))
        for tbl in ("events", "lineitem", "orders", "embeddings"):
            spark.read.parquet(f"{SF_DIR}/{tbl}.parquet") \
                .selectExpr("count(*) c").collect()
        print("warmup done", file=sys.stderr)

        for name in HEADLINE:
            walls[name] = _timed(
                lambda: _materialize(qs[name](spark, SF_DIR)))
            print(f"  {name}: {min(walls[name]):.3f}s", file=sys.stderr)

        # flagship extraction throughput over a cached input, so the
        # timing covers the plan, not the synthesis
        tr = entrymod.synth_transcripts(spark, SF_DIR, mult=MULT).cache()
        n_rows = tr.count()
        walls["extract_e2e"] = _timed(
            lambda: _materialize(flagship_plan(tr)))
    finally:
        spark.stop()

    mins = {q: round(min(w), 3) for q, w in walls.items()}
    medians = {q: round(statistics.median(w), 3) for q, w in walls.items()}
    return {
        "metric": "headline_total_sec",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "queries": mins,
        "queries_median": medians,
        "repeats": REPEATS,
        "sf": _sf_of(SF_DIR),
        "extract_rows": n_rows,
        "extract_turns_per_sec": round(n_rows / mins["extract_e2e"], 1),
        "host": host_facts(host_cpus(), driver_memory()),
    }


if __name__ == "__main__":
    print(json.dumps(run_headline()))
