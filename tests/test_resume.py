"""Resume / idempotency tests (SURVEY §5.2 layer 3, FIXTURES.md §3).

Simulates a job killed after completing a subset of buckets, then a
resumed run; asserts no duplicates, identical final table, and that a
re-run of a completed job performs ~zero extraction work (the lineage
anti-probe — reference md5 cache-hit analog text_extractor.py:842-847)."""

from __future__ import annotations

import glob
import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from advanced_text_extraction_spark.operators.extract import EXTRACTOR_VERSION
from advanced_text_extraction_spark.plans.pipeline import run_extract_job
from advanced_text_extraction_spark.sources import catalog
from advanced_text_extraction_spark.sources.config import ExtractOptions

N_BUCKETS = 8


def _lineage_files(root) -> set[str]:
    return set(glob.glob(os.path.join(catalog.lineage_path(root),
                                      "*.parquet")))


@pytest.fixture(scope="module")
def roots(spark, transcripts_path, tmp_path_factory):
    return spark.read.parquet(transcripts_path), str(tmp_path_factory.mktemp("wh_resume"))


def test_partial_then_resume(spark, roots):
    df, root = roots
    # "killed" run: only half the buckets complete
    first = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                            only_buckets=[0, 1, 2, 3])
    assert set(first.buckets_done) <= {0, 1, 2, 3}
    done_before = catalog.completed_buckets(spark, root, EXTRACTOR_VERSION)
    assert done_before == sorted(first.buckets_done)

    # resumed run completes the rest, skipping finished buckets
    second = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert sorted(second.buckets_skipped) == done_before
    assert not set(second.buckets_done) & set(done_before)

    out = catalog.read_extracted(spark, root)
    total = out.count()
    assert total == df.dropDuplicates(["conv_id", "turn_idx"]).count()
    assert out.dropDuplicates(["conv_id", "turn_idx"]).count() == total


def test_completed_rerun_is_noop(spark, roots):
    df, root = roots
    before = catalog.read_extracted(spark, root).count()
    third = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert third.buckets_done == []            # nothing re-extracted
    assert third.input_rows == 0
    assert len(third.buckets_skipped) == len(
        catalog.completed_buckets(spark, root, EXTRACTOR_VERSION))
    assert catalog.read_extracted(spark, root).count() == before


def test_rerun_bucket_is_idempotent(spark, roots, golden_pdf):
    """Force-redo one completed bucket (resume=False, only that bucket):
    dynamic partition overwrite must leave the table byte-identical."""
    df, root = roots
    run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                    resume=False, only_buckets=[0])
    out = catalog.read_extracted(spark, root).toPandas()
    assert not out.duplicated(["conv_id", "turn_idx"]).any()
    merged = out.merge(golden_pdf, on=["conv_id", "turn_idx"],
                       suffixes=("", "_g"), validate="one_to_one")
    assert (merged.extracted_text == merged.extracted_text_g).all()


def test_resume_keyed_on_n_buckets(spark, roots):
    """Lineage written under one bucketing must not satisfy the skip
    probe of another: pmod(h, 8) and pmod(h, 32) partitions are
    unrelated, so a --n-buckets change re-extracts instead of silently
    skipping the whole input."""
    df, root = roots  # warehouse completed at N_BUCKETS=8 by earlier tests
    assert catalog.completed_buckets(
        spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS)
    assert catalog.completed_buckets(
        spark, root, EXTRACTOR_VERSION, n_buckets=32) == []
    # a run with different bucketing skips nothing and processes rows
    run = run_extract_job(spark, df, root, n_buckets=4, salt=2)
    assert run.buckets_skipped == []
    assert run.input_rows == df.count()
    # back at 8 buckets, the dirs the 4-bucket run overwrote hold its
    # rows: their latest lineage rows say so, and only they are redone
    done8 = set(catalog.completed_buckets(
        spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS))
    assert not done8 & set(run.buckets_done)
    back = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert sorted(back.buckets_done) == sorted(run.buckets_done)
    assert set(back.buckets_skipped) == done8


def test_resume_survives_legacy_lineage_files(spark, roots):
    """Schema evolution: a lineage dir holding BOTH legacy files (written
    before the n_buckets column existed) and modern files must still
    satisfy the skip probe. The probe's rule is per file, so one legacy
    file cannot hide n_buckets from the whole table and permanently
    disable resume (observed on a mid-r2 warehouse via the spark-submit
    surface, when the probe read the dir under one sampled schema)."""
    df, root = roots  # warehouse completed at N_BUCKETS=8 by earlier tests
    done = catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                     n_buckets=N_BUCKETS)
    assert done
    # forge one legacy file: the modern schema minus n_buckets, stamped
    # with an old version so it can never satisfy the probe itself
    # (pyarrow, not duckdb: the forgery must keep Spark's timestamp
    # logical type — an NTZ rewrite would fail the merge for an
    # unrelated reason)
    lin = catalog.lineage_path(root)
    src = sorted(glob.glob(os.path.join(lin, "*.parquet")))[0]
    legacy = os.path.join(lin, "part-00000-legacy.parquet")
    t = pq.read_table(src).drop_columns(["n_buckets"])
    t = t.set_column(t.schema.get_field_index("extractor_version"),
                     "extractor_version",
                     pa.array(["legacy/0.0"] * len(t), pa.string()))
    pq.write_table(t, legacy)
    try:
        assert catalog.completed_buckets(
            spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS) == done
        rerun = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
        assert rerun.input_rows == 0 and rerun.buckets_done == []
        assert sorted(rerun.buckets_skipped) == done
    finally:
        os.remove(legacy)


def test_lineage_from_arrow_matches_tuple_lineage(spark, transcripts_path,
                                                  tmp_path):
    """Lineage written from an Arrow table keeps the schema of lineage
    written from a tuple list, which existing warehouses hold, and the
    resume probe reads both runs' buckets from one lineage dir."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    # the tuple-list lineage writer, as earlier versions ran it, plus the
    # options column
    catalog.append_lineage(spark.createDataFrame(
        [(b, 10, 100, 10, 0, 5) for b in (4, 5, 6, 7)],
        "part_bucket int, input_rows long, input_bytes long, "
        "output_rows long, error_rows long, wall_ms long",
    ).withColumns({"n_buckets": F.lit(N_BUCKETS),
                   "extractor_version": F.lit(EXTRACTOR_VERSION),
                   "run_id": F.lit("run-tuples"),
                   "finished_ts": F.current_timestamp(),
                   "options": F.lit(ExtractOptions().to_json())}), root)
    old_files = _lineage_files(root)
    run = run_extract_job(spark, spark.read.parquet(transcripts_path), root,
                          n_buckets=N_BUCKETS, salt=2,
                          only_buckets=[0, 1, 2, 3])
    new_files = _lineage_files(root) - old_files
    assert old_files and new_files and run.buckets_done

    old_schema = pq.read_schema(min(old_files))
    for f in new_files:
        assert pq.read_schema(f).equals(old_schema, check_metadata=True), f
        assert spark.read.parquet(f).dtypes == [
            ("part_bucket", "int"), ("input_rows", "bigint"),
            ("input_bytes", "bigint"), ("output_rows", "bigint"),
            ("error_rows", "bigint"), ("wall_ms", "bigint"),
            ("n_buckets", "int"), ("extractor_version", "string"),
            ("run_id", "string"), ("finished_ts", "timestamp"),
            ("options", "string")]
    assert run.buckets_skipped == [4, 5, 6, 7]
    assert catalog.completed_buckets(
        spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS) == sorted(
        set(run.buckets_done) | {4, 5, 6, 7})


def test_resume_keyed_on_options(spark, transcripts_path, tmp_path):
    """A bucket extracted under other options holds other rows than this
    run would write: a rerun with a changed OCR threshold re-extracts
    every bucket, and a rerun with unchanged options is still a no-op.
    Options A, B, then A again: the third run re-extracts every bucket,
    because B's rows are what the overwrite left on disk."""
    df, root = spark.read.parquet(transcripts_path), str(tmp_path / "wh")
    first = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    done = sorted(first.buckets_done)
    assert first.buckets_skipped == [] and done

    same = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                           options=ExtractOptions())
    assert same.buckets_done == [] and same.input_rows == 0
    assert sorted(same.buckets_skipped) == done

    stricter = ExtractOptions(ocr_confidence_threshold=0.9)
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                     N_BUCKETS, stricter) == []
    changed = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                              options=stricter)
    assert changed.buckets_skipped == []
    assert sorted(changed.buckets_done) == done
    assert changed.input_rows == first.input_rows
    again = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                            options=stricter)
    assert again.buckets_done == [] and sorted(again.buckets_skipped) == done

    back = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert back.buckets_skipped == [] and sorted(back.buckets_done) == done
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                     N_BUCKETS, stricter) == []
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                     N_BUCKETS, ExtractOptions()) == done


def test_lineage_without_options_is_reextracted_once(spark, transcripts_path,
                                                     tmp_path, caplog):
    """Lineage written before the options column says nothing of the
    options its buckets were extracted under: a run re-extracts them once,
    and the run after it is a no-op. The four-argument probe, which asks
    for no options, still counts them."""
    df, root = spark.read.parquet(transcripts_path), str(tmp_path / "wh")
    first = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    done = sorted(first.buckets_done)
    for f in _lineage_files(root):
        pq.write_table(pq.read_table(f).drop_columns(["options"]), f)
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                     N_BUCKETS) == done
    with caplog.at_level(logging.WARNING, logger=catalog.__name__):
        assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                         N_BUCKETS, ExtractOptions()) == []
    assert "options column" in caplog.text

    rerun = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert rerun.buckets_skipped == [] and sorted(rerun.buckets_done) == done
    again = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert again.buckets_done == [] and sorted(again.buckets_skipped) == done
    out = catalog.read_extracted(spark, root)
    assert out.count() == out.dropDuplicates(["conv_id", "turn_idx"]).count()


def test_resume_probe_and_lineage_append_launch_no_extra_work(
        spark, transcripts_path, tmp_path):
    """Lineage is metadata: the resume probe reads it on the driver and
    launches no Spark job, and a run appends ONE lineage file whatever
    its number of buckets (a local relation is otherwise written one
    task and one file per row), so the probe's reads grow by one file
    per run."""
    df, root = spark.read.parquet(transcripts_path), str(tmp_path / "wh")
    run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                    only_buckets=[0, 1, 2, 3])
    sc, group = spark.sparkContext, "test-resume-probe-jobs"
    sc.setJobGroup(group, "completed_buckets")
    try:
        done = catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                         N_BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(spark._jvm.java.util.ArrayList())
    in_group = [jobs.apply(i).jobId() for i in range(jobs.size())
                if jobs.apply(i).jobGroup().isDefined()
                and jobs.apply(i).jobGroup().get() == group]
    assert done and in_group == []

    before = _lineage_files(root)
    run = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert run.buckets_skipped == done and len(run.buckets_done) > 1
    assert len(_lineage_files(root) - before) == 1


def _forge_lineage(path, buckets, version=EXTRACTOR_VERSION,
                   n_buckets=None) -> None:
    """A lineage file holding only the columns the probe reads; without
    ``n_buckets`` it has the legacy schema, which predates that column."""
    cols = {"part_bucket": pa.array(buckets, pa.int32()),
            "extractor_version": pa.array([version] * len(buckets))}
    if n_buckets is not None:
        cols["n_buckets"] = pa.array([n_buckets] * len(buckets), pa.int32())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def test_legacy_lineage_of_this_version_is_not_done(spark, tmp_path,
                                                    caplog):
    """A legacy file stamped with the CURRENT extractor version adds no
    bucket when n_buckets is given (its bucketing is unverifiable), while
    with n_buckets=None legacy and modern rows count alike; files under a
    ``_``-prefixed name (an unfinished write's ``_temporary/``) are not
    lineage."""
    root = str(tmp_path / "wh")
    lin = catalog.lineage_path(root)
    _forge_lineage(os.path.join(lin, "part-00000-legacy.parquet"), [2, 3])
    with caplog.at_level(logging.WARNING, logger=catalog.__name__):
        assert catalog.completed_buckets(
            spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS) == []
    assert "predates the n_buckets column" in caplog.text
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION) \
        == [2, 3]

    _forge_lineage(os.path.join(lin, "part-00001-modern.parquet"), [0, 1],
                   n_buckets=N_BUCKETS)
    _forge_lineage(os.path.join(lin, "_temporary", "0", "part-x.parquet"),
                   [5], n_buckets=N_BUCKETS)
    assert catalog.completed_buckets(
        spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS) == [0, 1]
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION) \
        == [0, 1, 2, 3]


def test_unmountable_warehouse_turns_resume_off(spark, caplog):
    """A warehouse scheme pyarrow cannot mount is never probed as a local
    dir: the probe warns and returns [], so the run re-extracts
    (idempotent) instead of failing."""
    with caplog.at_level(logging.WARNING, logger=catalog.__name__):
        assert catalog.completed_buckets(
            spark, "s3a://bucket/wh", EXTRACTOR_VERSION, N_BUCKETS) == []
    assert "resume is off for this run" in caplog.text


def test_page_the_html_parser_rejects_is_an_error_row(spark, transcripts_pdf,
                                                     tmp_path):
    """A page holding a marked section the stdlib HTML parser rejects
    ends as one ``status='error'`` row that lineage counts, and the job
    completes; it used to fail the task, and so the job."""
    pdf = transcripts_pdf.head(60).copy()
    key = tuple(pdf.iloc[7][["conv_id", "turn_idx"]])
    copies = (pdf.conv_id == key[0]) & (pdf.turn_idx == key[1])
    pdf.loc[copies, "text"] = "<html><p>hi</p><![foo]></html>"
    path = str(tmp_path / "transcripts.parquet")
    pdf.to_parquet(path, index=False)
    root = str(tmp_path / "wh")
    run = run_extract_job(spark, spark.read.parquet(path), root,
                          n_buckets=N_BUCKETS, salt=2)
    assert run.buckets_done
    out = catalog.read_extracted(spark, root).toPandas()
    row = out[(out.conv_id == key[0]) & (out.turn_idx == key[1])]
    assert row[["content_type", "status", "error"]].values.tolist() == [
        ["html", "error", "unknown status keyword 'foo' in marked section"]]
    lineage = spark.read.parquet(catalog.lineage_path(root)).toPandas()
    assert lineage.error_rows.sum() == (out.status == "error").sum() >= 1
