"""Resume / idempotency tests (SURVEY §5.2 layer 3, FIXTURES.md §3).

Simulates a job killed after completing a subset of buckets, then a
resumed run; asserts no duplicates, identical final table, and that a
re-run of a completed job performs ~zero extraction work (the lineage
anti-probe — reference md5 cache-hit analog text_extractor.py:842-847)."""

from __future__ import annotations

import pytest

from advanced_text_extraction_spark.operators.extract import EXTRACTOR_VERSION
from advanced_text_extraction_spark.plans.pipeline import run_extract_job
from advanced_text_extraction_spark.sources import catalog

N_BUCKETS = 8


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


def test_resume_survives_legacy_lineage_files(spark, roots):
    """Schema evolution: a lineage dir holding BOTH legacy files (written
    before the n_buckets column existed) and modern files must still
    satisfy the skip probe — plain read.parquet samples one file's
    schema, so without mergeSchema a single legacy file can hide
    n_buckets from the whole table and permanently disable resume
    (observed on a mid-r2 warehouse via the spark-submit surface)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

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
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    lin = catalog.lineage_path(root)
    # the tuple-list lineage writer, as earlier versions ran it
    catalog.append_lineage(spark.createDataFrame(
        [(b, 10, 100, 10, 0, 5) for b in (4, 5, 6, 7)],
        "part_bucket int, input_rows long, input_bytes long, "
        "output_rows long, error_rows long, wall_ms long",
    ).withColumns({"n_buckets": F.lit(N_BUCKETS),
                   "extractor_version": F.lit(EXTRACTOR_VERSION),
                   "run_id": F.lit("run-tuples"),
                   "finished_ts": F.current_timestamp()}), root)
    old_files = set(glob.glob(os.path.join(lin, "*.parquet")))
    run = run_extract_job(spark, spark.read.parquet(transcripts_path), root,
                          n_buckets=N_BUCKETS, salt=2,
                          only_buckets=[0, 1, 2, 3])
    new_files = set(glob.glob(os.path.join(lin, "*.parquet"))) - old_files
    assert old_files and new_files and run.buckets_done

    old_schema = pq.read_schema(min(old_files))
    for f in new_files:
        assert pq.read_schema(f).equals(old_schema, check_metadata=True), f
        assert spark.read.parquet(f).dtypes == [
            ("part_bucket", "int"), ("input_rows", "bigint"),
            ("input_bytes", "bigint"), ("output_rows", "bigint"),
            ("error_rows", "bigint"), ("wall_ms", "bigint"),
            ("n_buckets", "int"), ("extractor_version", "string"),
            ("run_id", "string"), ("finished_ts", "timestamp")]
    assert run.buckets_skipped == [4, 5, 6, 7]
    assert catalog.completed_buckets(
        spark, root, EXTRACTOR_VERSION, n_buckets=N_BUCKETS) == sorted(
        set(run.buckets_done) | {4, 5, 6, 7})
