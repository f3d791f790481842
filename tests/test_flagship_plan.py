"""One flagship plan: the driver entry runs exactly the plan the
spark-submit job writes (``plans.pipeline.flagship_plan``) — one
``part_bucket`` hash exchange, no second per-conversation exchange, and the
same rows. The job runs Python only where the data needs it: AQE sizes
that exchange, and lineage is written without a Python task. Each bucket
is one task and one output file, whatever AQE's target size."""

from __future__ import annotations

import json
import re

import __spark_entry__ as spark_entry
from advanced_text_extraction_spark.plans.pipeline import run_extract_job
from advanced_text_extraction_spark.sources import catalog


# operator names of a stage graph that run Python code in a worker
_PYTHON_OPS = ("InPandas", "InArrow", "EvalPython", "PythonRDD")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _graph_names(cluster) -> list[str]:
    names = [cluster.name()] + [n.name() for n in _seq(cluster.childNodes())]
    for child in _seq(cluster.childClusters()):
        names += _graph_names(child)
    return names


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


def test_job_runs_one_aqe_sized_python_stage(spark, transcripts_path,
                                              tmp_path):
    """The part_bucket exchange is REPARTITION_BY_COL and AQE coalesces
    it, and the one stage that runs Python in a job is the extraction:
    the lineage write adds no PythonRDD stage."""
    sc, group = spark.sparkContext, "test-flagship-python-stages"
    sc.setJobGroup(group, "run_extract_job")
    try:
        run_extract_job(spark, spark.read.parquet(transcripts_path),
                        str(tmp_path / "wh"), n_buckets=8, salt=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_filter = spark._jvm.java.util.ArrayList()
    job_ids, stage_ids = [], set()
    for job in _seq(store.jobsList(no_filter)):
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            job_ids.append(job.jobId())
            stage_ids.update(_seq(job.stageIds()))

    plans = [e.physicalPlanDescription() for e in _seq(
        spark._jsparkSession.sharedState().statusStore().executionsList())
        if any(e.jobs().contains(j) for j in job_ids)]
    plan = "\n".join(p for p in plans if "MapInArrow" in p)
    read = re.search(r"AQEShuffleRead \((\d+)\)\n\s*\+- ShuffleQueryStage "
                     r"\(\d+\).*\n\s*\+- Exchange \((\d+)\)", plan)
    assert read, plan
    read_id, exchange_id = read.groups()
    assert re.search(rf"\({read_id}\) AQEShuffleRead\n.*\n"
                     r"Arguments: coalesced\n", plan), plan
    assert re.search(rf"\({exchange_id}\) Exchange\n.*\nArguments: "
                     r"hashpartitioning\(part_bucket#\d+.*REPARTITION_BY_COL",
                     plan), plan
    assert "REPARTITION_BY_NUM" not in plan, plan

    quantiles = getattr(store, "stageData$default$5")()
    python_stages = []
    for sid in stage_ids:
        ran = [st for st in _seq(store.stageData(sid, False, no_filter, False,
                                                 quantiles))
               if str(st.status()) != "SKIPPED"]
        names = _graph_names(store.operationGraphForStage(sid).rootCluster())
        if ran and any(op in n for n in names for op in _PYTHON_OPS):
            python_stages.append(names)
    assert len(python_stages) == 1, python_stages
    assert "MapInArrow" in python_stages[0], python_stages


def test_each_bucket_is_one_task_and_one_file(spark, transcripts_path,
                                              tmp_path):
    """A bucket is never spread over tasks, so every run writes one file
    per bucket whatever the data's sizes: even with a 1-byte AQE target,
    where no two hash partitions merge, each bucket directory holds
    exactly one parquet file."""
    confs = {"spark.sql.adaptive.coalescePartitions.parallelismFirst":
             "false",
             "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1",
             "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1"}
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        run_extract_job(spark, spark.read.parquet(transcripts_path),
                        str(tmp_path / "wh"), n_buckets=8, salt=2)
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    files = {d.name: sorted(f.name for f in d.glob("*.parquet"))
             for d in (tmp_path / "wh" / "extracted").glob("part_bucket=*")}
    assert files
    assert all(len(fs) == 1 for fs in files.values()), files
