"""SparkSession factory with scale-oriented defaults.

Local mode stands in for the multi-executor cluster (BASELINE.md). Its
sizing comes from the host the job starts on: ``local[N]`` over the CPUs
this process may run on and a driver heap of half the physical memory,
unless ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` say otherwise. Under
spark-submit the launcher's ``--master`` is kept, unless the caller
passes ``master``. On a real cluster the same factory applies — only
master, memory, and the Iceberg catalog packages change (see
sources/catalog.py).

Python workers fork from this package's daemon (sources/worker_daemon.py),
which preloads the flagship's imports. The daemon starts before any task
puts a ``--py-files`` zip on ``sys.path``, so the session hands the
workers the directory or zip this package was imported from as their
``PYTHONPATH``. On a cluster that path must also exist on the executors,
as it does for a zip YARN ships with ``--py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory or zip holding the package: three levels above this file
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else half of the host's physical memory."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_DRIVER_MEM") or f"{max(1, phys // 2**31)}g"


def build_session(
    app_name: str = "advanced_text_extraction_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime coalescing + skew-split backstop (SURVEY §4.2)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow exchange for pandas UDFs; the batch cap counts rows only,
        # so worker memory follows payload size (SURVEY §2.13 C3)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # idempotent per-partition overwrite (reference J2 upsert analog)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", driver_memory())
        # e.g. -XX:ActiveProcessorCount=N for CPU-budget-pinned runs —
        # how a cgroup-aware JVM behaves under a container CPU limit on a
        # real cluster
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        # local mode: no data locality to wait for — schedule immediately
        .config("spark.locality.wait", "0s")
        # workers fork from a daemon that already holds the flagship's
        # imports; it needs the package before any task ships it
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    # spark-submit sets PYSPARK_GATEWAY_PORT for the script it runs; its
    # --master (or its own default) then holds unless the caller names one
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{host_cpus()}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the exchange's starting width, from the cores the session got;
    # AQE coalesces it to what the data needs
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(spark.sparkContext.defaultParallelism, 8)))
    return spark
