"""Warehouse abstraction: Parquet + lineage manifest (Iceberg-ready).

Replaces the reference's SQLite cache table
(/root/reference/text_extractor.py:805-832) with two partitioned tables:

- ``extracted/``  — the output table, hash-bucketed by ``part_bucket``
  (Parquet ``partitionBy``; on a real cluster this is an Iceberg table and
  the idempotent overwrite becomes ``INSERT OVERWRITE``/``MERGE INTO`` on
  ``(conv_id, turn_idx, extractor_version)`` — reference upsert analog
  /root/reference/text_extractor.py:1018-1033,823).
- ``lineage/``    — one row per completed bucket per run, one file per
  run (SURVEY §1.2): drives idempotent checkpoint resume via
  completed-bucket skip, the Spark analog of the reference's md5-keyed
  cache probe (reference text_extractor.py:842-847,1041-1074).
  It is metadata: the probe reads it per file on the driver with pyarrow
  and launches no Spark job.

The sandbox ships no Iceberg runtime jar, so the default engine is plain
Parquet with dynamic partition overwrite — semantics are identical for
this job because the write unit IS the partition.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

from .config import ExtractOptions


def extracted_path(root: str) -> str:
    return os.path.join(root, "extracted")


def lineage_path(root: str) -> str:
    return os.path.join(root, "lineage")


def write_extracted(df: DataFrame, root: str) -> None:
    """Idempotent per-bucket overwrite (partitionOverwriteMode=dynamic):
    re-running a bucket replaces it exactly — no dupes on retry."""
    (
        df.write.mode("overwrite")
        .partitionBy("part_bucket")
        .parquet(extracted_path(root))
    )


def append_lineage(df: DataFrame, root: str) -> None:
    df.write.mode("append").parquet(lineage_path(root))


def read_extracted(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(extracted_path(root))


def _parquet_files(path: str, caller: str, degraded: str):
    """The pyarrow filesystem under ``path`` and its ``.parquet`` files,
    listed in one recursive call. Files under a ``_``/``.``-prefixed name
    (``_SUCCESS``, ``.crc``, the ``_temporary/`` of an unfinished write)
    are skipped, as Spark's own file index skips them.

    Filesystem access goes through ``pyarrow.fs.FileSystem.from_uri`` so
    the same code reads ``file://``, ``s3://``, ``hdfs://`` … warehouses.
    A path with a scheme pyarrow cannot mount (e.g. ``s3a://`` — Hadoop's
    spelling; pyarrow only knows ``s3://`` — or ``hdfs://`` without
    libhdfs) logs that ``caller`` runs ``degraded`` and returns
    ``(None, [])``; it must NOT be silently probed as a local dir."""
    from pyarrow import fs as pafs

    try:
        filesystem, base = pafs.FileSystem.from_uri(path)
    except Exception as exc:
        # the local fallback is ONLY for scheme-less local paths (pyarrow
        # rejects relative paths in from_uri)
        if "://" in path:
            logging.getLogger(__name__).warning(
                "%s: pyarrow cannot mount %s (%s); %s — map the warehouse "
                "scheme to a pyarrow filesystem (s3a:// -> s3://)",
                caller, path, exc, degraded)
            return None, []
        filesystem = pafs.LocalFileSystem()
        base = os.path.abspath(path)
    selector = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    files = [
        info.path for info in filesystem.get_file_info(selector)
        if info.type == pafs.FileType.File and info.path.endswith(".parquet")
        and not any(name.startswith(("_", ".")) for name in
                    info.path[len(base):].split("/"))]
    return filesystem, files


def bucket_row_counts(root: str,
                      buckets: set[int] | None = None) -> dict[int, int]:
    """Rows on disk per bucket, from parquet FOOTER metadata only — no
    Spark job, no data scan: O(n_files) driver-side metadata reads, and
    n_files scales with bucket count × task count, not data size. This is
    the authoritative ``output_rows`` source for lineage (VERDICT r1 #4:
    lineage must not re-scan the table it just wrote). On Iceberg the
    equivalent is snapshot summary / manifest stats.

    ``buckets`` restricts footer reads to the buckets THIS run wrote:
    a resume run that processes 1 of 32 buckets must not pay footer
    I/O for the 31 untouched ones (on an object store that is real
    per-file round-trip latency, and the counts would be discarded
    anyway). The directory listing itself stays one recursive call.

    On a warehouse pyarrow cannot mount this warns and returns ``{}``,
    and lineage falls back to the retry-inflatable accumulator counts."""
    import pyarrow.parquet as pq

    filesystem, files = _parquet_files(
        extracted_path(root), "bucket_row_counts",
        "falling back to accumulator row counts for lineage")
    counts: dict[int, int] = {}
    for path in files:
        parts = [s for s in path.split("/") if s.startswith("part_bucket=")]
        if not parts:
            continue
        b = int(parts[-1].split("=", 1)[1])
        if buckets is not None and b not in buckets:
            continue
        with filesystem.open_input_file(path) as f:
            counts[b] = counts.get(b, 0) + pq.ParquetFile(f) \
                .metadata.num_rows
    return counts


def completed_buckets(spark: SparkSession, root: str,
                      extractor_version: str,
                      n_buckets: int | None = None,
                      options: ExtractOptions | None = None) -> list[int]:
    """Buckets whose stored rows a prior run of this extractor version
    wrote UNDER THE SAME BUCKETING AND OPTIONS. pmod(hash, 8) and
    pmod(hash, 32) buckets are unrelated partitions, and a bucket
    extracted under other :class:`ExtractOptions` holds other rows than
    this run would write: neither may satisfy the skip probe (it would
    silently skip input while extracting nothing).

    Each bucket is decided on its LATEST lineage row (``finished_ts``),
    because the per-bucket overwrite keeps only the latest run's rows on
    disk: after runs under options A, B, A, a bucket is done for A only
    if the third run rewrote it. A long-lived warehouse may mix lineage
    from several engine versions; a row from a file missing a key column
    asked for (``n_buckets``, ``options``: legacy lineage) never matches,
    so such a bucket is re-extracted once, and if NO file carries them
    all, a warning says so. Wrongly skipping is the unsafe direction; a
    re-extract is harmless, because the per-bucket overwrite is
    idempotent. For the same reason a missing lineage dir, or a warehouse
    pyarrow cannot mount (a warning: resume is off for this run), returns
    ``[]``.

    Lineage is tiny (one file per run, one row per bucket), so it is read
    on the driver with pyarrow and launches no Spark job: per file, the
    footer schema, then only the columns named above. ``spark`` is unused
    and kept for callers. The caller turns the ids into a
    partition-pruning ``NOT IN`` filter (``flagship_plan(skip_buckets=)``).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = lineage_path(root)
    filesystem, files = _parquet_files(
        path, "completed_buckets", "resume is off for this run")
    keys = {"n_buckets": n_buckets,
            "options": None if options is None else options.to_json()}
    keys = {k: v for k, v in keys.items() if v is not None}
    latest: dict[int, int] = {}  # bucket -> finished_ts (µs) of last row
    matched: dict[int, int] = {}  # bucket -> that of last matching row
    stamped = False
    for file in files:
        with filesystem.open_input_file(file) as f:
            pf = pq.ParquetFile(f)
            names = set(pf.schema_arrow.names)
            keyed = keys.keys() <= names
            stamped |= keyed
            t = pf.read(columns=["part_bucket", "extractor_version",
                                 *(keys if keyed else ()),
                                 *({"finished_ts"} & names)])
        # Spark may write INT96 (read as ns) or micros: one unit for all
        ts = (t["finished_ts"].cast(pa.timestamp("us", "UTC"))
              .cast(pa.int64()).to_pylist()
              if "finished_ts" in names else [0] * t.num_rows)
        for r, when in zip(t.to_pylist(), ts):
            b = r["part_bucket"]
            latest[b] = max(latest.get(b, when), when)
            if keyed and r["extractor_version"] == extractor_version \
                    and all(r[k] == v for k, v in keys.items()):
                matched[b] = max(matched.get(b, when), when)
    if files and not stamped:
        logging.getLogger(__name__).warning(
            "completed_buckets: lineage at %s predates the %s column(s); "
            "treating prior runs as incomplete (idempotent re-extract) "
            "rather than risking a wrong skip", path, ", ".join(keys))
    return sorted(b for b, when in matched.items() if when >= latest[b])
