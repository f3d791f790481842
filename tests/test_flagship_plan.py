"""One flagship plan: the driver entry runs exactly the plan the
spark-submit job writes (``plans.pipeline.flagship_plan``) — one salted
hash exchange, no second per-conversation exchange, and the same rows."""

from __future__ import annotations

import json
import re

import __spark_entry__ as spark_entry
from advanced_text_extraction_spark.plans.pipeline import run_extract_job
from advanced_text_extraction_spark.sources import catalog


def _rows(df) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                             default=str) for r in df.collect())


def test_entry_has_one_salted_exchange(spark):
    plan = spark_entry.entry(spark)._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"hashpartitioning\(part_bucket#\d+", plan)) == 1, \
        plan
    assert not re.findall(r"hashpartitioning\(conv_id#\d+, \d+\)", plan), \
        plan


def test_entry_rows_equal_job_output(spark, tmp_path):
    src, root = str(tmp_path / "transcripts"), str(tmp_path / "wh")
    spark_entry.synth_transcripts(spark, spark_entry.SF0001) \
        .write.parquet(src)
    run_extract_job(spark, spark.read.parquet(src), root, n_buckets=8,
                    salt=2)
    entry = spark_entry.entry(spark)
    job = catalog.read_extracted(spark, root).select(*entry.columns)
    assert _rows(entry) == _rows(job)
