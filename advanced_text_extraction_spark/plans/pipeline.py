"""The flagship extraction job (SURVEY.md §4.3 physical plan).

``flagship_plan`` is the ONE definition of the plan; the spark-submit job
(``run_extract_job``), the driver entry and e2e queries, ``bench.py`` and
``scripts/explain_plans.py`` all build it here:

    scan(transcripts)                         [column-pruned parquet scan]
      → part_bucket = pmod(xxhash64(conv_id), n_buckets)
      → bucket filters                        [J1 — resume skip of completed
                                               buckets; only_buckets]
      → Exchange(hash: part_bucket)           [C4 — co-locates (conv_id,
                                               turn_idx) copies and a whole
                                               bucket; REPARTITION_BY_COL,
                                               so AQE coalesces it to what
                                               the data needs]
      → mapInArrow(dedupe + extract)          [U1 folded into the kernel —
                                               partition-local seen-set,
                                               exact because copies are
                                               co-located; Arrow in and out,
                                               no pandas; the raw payload
                                               is not output]
      → sortWithinPartitions(part_bucket,     [W3 — stable order, no global
                             conv_id, turn)    sort, no second exchange]
      → overwrite extracted/ per bucket + append lineage/  (run_extract_job;
                                               lineage from an Arrow table,
                                               a local relation: no Python;
                                               one file per run)

Scale design notes (10^12 turns, 1000 executors):
- The ONLY shuffle is the part_bucket repartition; everything else is
  narrow. No collect of data rows ever happens (lineage bucket ids are
  O(n_buckets) — metadata, not data).
- Skew: a bucket is one hash partition, so each bucket is extracted by
  exactly one task and written as one file per run, whatever the sizes.
  AQE merges only partitions smaller than its target size, so a large
  bucket runs in a task of its own. Splitting a conversation too large
  for one task needs a per-bucket salt derived from lineage (open, see
  ``salted_repartition``). The reference has no analog — its
  ThreadPoolExecutor fans out per file, text_extractor.py:962-1000.
- The Python task count follows the data, not n_buckets (see
  ``salted_repartition``): each Python task has a fixed start-up cost.
- Lineage granularity = bucket; failed/killed runs redo only missing
  buckets, and the dynamic partition overwrite makes redo idempotent
  (no dupes on retry) — the reference's md5 cache-hit short-circuit
  (text_extractor.py:842-847) lifted to partition granularity.
- Writes are per-bucket parquet dirs → on Iceberg, per-partition
  commits; bucket count scales with cluster size, not data size.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import (
    EXTRACTOR_VERSION,
    extract,
    new_stats_accumulator,
)
from ..sources import catalog
from ..sources.config import DEFAULT_CONFIG, ExtractOptions

DEFAULT_N_BUCKETS = DEFAULT_CONFIG["job"]["n_buckets"]
DEFAULT_SALT = 4


@dataclass
class RunStats:
    """Per-run lineage summary.

    ``input_rows`` (and the per-bucket stats it is summed from) comes from
    a Spark accumulator updated inside the extraction *transformation*, and
    accumulator updates in transformations are AT-LEAST-ONCE: a retried or
    speculatively re-executed task adds its batch counts again. The written
    rows and the parquet-footer row counts stay exact (dynamic-partition
    overwrite commits one task attempt per partition); only these advisory
    throughput/lineage stats can over-count. On hosts with bursty CPU steal
    (which triggers speculation) either disable speculation for the extract
    stage or read exact counts from the lineage table's footer-derived
    columns instead."""
    run_id: str
    buckets_done: list[int]
    buckets_skipped: list[int]
    input_rows: int
    wall_sec: float


def prepare(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """Deterministic bucket assignment (partition scheme).

    U1 dedupe is NOT a separate pass: the part_bucket repartition co-locates
    all copies of a (conv_id, turn_idx) key, so the extraction kernel
    drops duplicates partition-locally (extract(dedupe_keys=...)) —
    saving the dropDuplicates aggregate and its exchange."""
    return df.withColumn(
        "part_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
    )


def salted_repartition(df: DataFrame, n_buckets: int, salt: int) -> DataFrame:
    """C4 — the one exchange before the extraction UDF, hashed on
    ``part_bucket`` alone; order is restored after the UDF (W3).

    The exchange is sized by AQE, not by ``n_buckets`` or ``salt`` (both
    kept in the signature for callers): it starts at
    ``spark.sql.shuffle.partitions`` and AQE coalesces it to what the data
    needs, so a small resume runs one Python task, not one per (bucket,
    salt) pair — on a 4-vCPU host each Python task costs ~0.2–0.3 s of
    worker CPU before it touches a row. Coalescing merges WHOLE hash
    partitions, so every copy of a (conv_id, turn_idx) key stays in one
    task and the folded dedupe stays exact. Never REBALANCE,
    range-partition or skew-split this exchange: splitting a partition
    can separate copies.

    The key carries no salt: under coalescing, a bucket split over
    ``salt`` hash partitions lands in a number of tasks, and so of output
    files, that follows the partition sizes (11–14 files over ten seeds
    of one 8-bucket input). With one hash partition per bucket, each
    bucket is one task and one file."""
    return df.repartition("part_bucket")


def flagship_plan(
    transcripts: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: int = DEFAULT_SALT,
    skip_buckets: list[int] | None = None,
    only_buckets: list[int] | None = None,
    stats_acc=None,
    options: ExtractOptions = ExtractOptions(),
) -> DataFrame:
    """The flagship plan up to (not including) the write: bucket, filter
    buckets, ONE part_bucket exchange, folded-dedupe extraction, per-partition
    order. ``skip_buckets`` is the resume probe's completed set (a
    metadata-level partition prune — cheaper than an anti-join);
    ``only_buckets`` restricts the run; ``stats_acc`` (see
    :func:`new_stats_accumulator`) collects per-bucket lineage stats;
    ``options`` are the run's extraction settings, the job's defaults
    unless given, so every caller of the plan extracts a row alike."""
    df = prepare(transcripts, n_buckets)
    if skip_buckets:
        df = df.filter(~F.col("part_bucket").isin(skip_buckets))
    if only_buckets is not None:
        df = df.filter(F.col("part_bucket").isin(only_buckets))
    # extract() does not carry the raw payload through: it is not part of
    # the output contract (SURVEY §1.2 `extracted` schema), and writing
    # `text` would re-store the whole input corpus. The sort leads with part_bucket so FileFormatWriter's required
    # ordering (partition columns first) is already satisfied — otherwise
    # the writer inserts its own part_bucket-only sort, which is not
    # stable and would scramble the (conv_id, turn_idx) order
    return extract(salted_repartition(df, n_buckets, salt),
                   dedupe_keys=("conv_id", "turn_idx"),
                   stats_acc=stats_acc, options=options) \
        .sortWithinPartitions("part_bucket", "conv_id", "turn_idx")


def run_extract_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: int = DEFAULT_SALT,
    resume: bool = True,
    only_buckets: list[int] | None = None,
    options: ExtractOptions = ExtractOptions(),
) -> RunStats:
    """End-to-end extraction with lineage + idempotent resume.

    ``only_buckets`` restricts the run (test hook simulating a job killed
    after completing a subset of partitions — FIXTURES.md §3 resume test).
    Lineage records ``options``, and resume skips only the buckets a
    prior run completed under the same options and bucketing.
    """
    t0 = time.time()
    run_id = f"run-{int(t0 * 1000):x}"

    skipped: list[int] = []
    if resume:
        skipped = catalog.completed_buckets(spark, out_root,
                                            EXTRACTOR_VERSION, n_buckets,
                                            options)
    stats_acc = new_stats_accumulator(spark)
    extracted = flagship_plan(
        transcripts, n_buckets, salt, skip_buckets=skipped,
        only_buckets=only_buckets, stats_acc=stats_acc, options=options)
    catalog.write_extracted(extracted, out_root)

    # Lineage WITHOUT a second scan of the output (VERDICT r1 #4):
    # per-bucket bytes/errors/kernel-wall come from the extraction pass
    # itself (accumulator side output), authoritative row counts from the
    # parquet footers of the files just written — driver-side metadata,
    # O(n_files), vs. the previous read-back which re-scanned every
    # written row (a second full pass of the output per run at 100 TB).
    acc = stats_acc.value
    footer_rows = catalog.bucket_row_counts(out_root, set(acc)) \
        if acc else {}
    lineage_rows = [
        (b, int(rows_in), int(raw_bytes), int(footer_rows.get(b, kept)),
         int(errors), int(wall_us // 1000))
        for b, (rows_in, kept, raw_bytes, errors, wall_us)
        in sorted(acc.items())
    ]
    input_rows = 0
    if lineage_rows:
        # from an Arrow table, not the tuple list: the list becomes
        # parallelize + a Python map (one Python task per core for at most
        # n_buckets rows), the table a local relation that runs no Python
        lineage = spark.createDataFrame(
            pa.table(list(zip(*lineage_rows)), names=[
                "part_bucket", "input_rows", "input_bytes", "output_rows",
                "error_rows", "wall_ms"]),
            "part_bucket int, input_rows long, input_bytes long, "
            "output_rows long, error_rows long, wall_ms long",
        ).withColumns({
            # n_buckets keys the resume probe: buckets computed under a
            # DIFFERENT bucketing are semantically unrelated partitions
            # and must not be skipped (pmod(h,8) != pmod(h,32))
            "n_buckets": F.lit(n_buckets),
            "extractor_version": F.lit(EXTRACTOR_VERSION),
            "run_id": F.lit(run_id),
            "finished_ts": F.current_timestamp(),
            # the options key it too: a bucket extracted under another
            # threshold, engine or payload cap is not this run's output
            "options": F.lit(options.to_json()),
        })
        # one task and one file per run: a local relation is otherwise
        # written one task and one file per row, up to the core count, and
        # the resume probe reads lineage file by file
        catalog.append_lineage(lineage.coalesce(1), out_root)
        input_rows = sum(r[1] for r in lineage_rows)
    return RunStats(run_id, [r[0] for r in lineage_rows], skipped,
                    input_rows, time.time() - t0)
