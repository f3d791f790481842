"""Python workers fork from the package's daemon
(``sources/worker_daemon.py``), which preloads what a flagship task
imports and freezes that heap before the first fork: the invariants that
make the sharing safe and complete."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
from pyspark.sql import types as T

from advanced_text_extraction_spark.operators.extract import _make_kernel
from advanced_text_extraction_spark.sources.config import ExtractOptions

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "advanced_text_extraction_spark.sources.worker_daemon"


def _daemon_state() -> dict:
    """Import the daemon module in a fresh interpreter, as the daemon
    does before it forks its first worker. Spark starts the daemon with
    ``OMP_NUM_THREADS`` set to ``spark.task.cpus`` (1), which keeps
    numpy's BLAS from starting a thread pool at import."""
    code = (
        "import gc, json, os, sys\n"
        f"import {DAEMON}\n"
        "print(json.dumps({'threads': len(os.listdir('/proc/self/task')),"
        " 'frozen': gc.get_freeze_count(),"
        " 'modules': sorted(sys.modules)}))\n")
    env = dict(os.environ, OMP_NUM_THREADS="1", PYTHONPATH=ROOT)
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd="/",
                         capture_output=True, text=True, check=True,
                         timeout=120)
    return json.loads(out.stdout)


def test_daemon_import_starts_no_thread_and_freezes_its_heap():
    state = _daemon_state()
    # a fork keeps only the forking thread: nothing may run beside it
    assert state["threads"] == 1
    assert state["frozen"] > 0


_REPORT = T.StructType([
    T.StructField("modules", T.ArrayType(T.StringType())),
    T.StructField("daemon_cmdline", T.StringType()),
    T.StructField("daemon_threads", T.IntegerType()),
    T.StructField("frozen", T.LongType()),
])


def test_daemon_preloads_what_a_flagship_task_imports(spark,
                                                      transcripts_path):
    """Drift guard: a flagship extraction task, OCR fallback armed as the
    job arms it, imports no package module (nor pyarrow or pandas) that
    the daemon did not already import before forking it."""
    kernel = _make_kernel(("conv_id", "turn_idx"), None, ExtractOptions())

    def report(batches):
        import gc

        for _ in kernel(batches):
            pass
        daemon = os.getppid()
        with open(f"/proc/{daemon}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode()
        yield pa.RecordBatch.from_pydict({
            "modules": [sorted(sys.modules)],
            "daemon_cmdline": [cmdline],
            "daemon_threads": [len(os.listdir(f"/proc/{daemon}/task"))],
            "frozen": [gc.get_freeze_count()],
        }, schema=pa.schema([
            ("modules", pa.list_(pa.string())),
            ("daemon_cmdline", pa.string()),
            ("daemon_threads", pa.int32()),
            ("frozen", pa.int64())]))

    df = spark.read.parquet(transcripts_path).coalesce(1)
    # a reused worker still holds what earlier tasks imported: an extra
    # environment key makes Spark start a daemon of its own for this
    # function, so the task runs in a freshly forked worker
    env = spark.sparkContext.environment
    env["ATE_FRESH_DAEMON"] = "drift-guard"
    try:
        [row] = df.mapInArrow(report, schema=_REPORT).collect()
    finally:
        del env["ATE_FRESH_DAEMON"]
    # the worker ran under this package's daemon, forked from a frozen
    # heap, and the daemon serves it single-threaded
    assert DAEMON in row.daemon_cmdline
    assert row.frozen > 0
    assert row.daemon_threads == 1

    needed = {m for m in row.modules
              if m.startswith("advanced_text_extraction_spark.")
              or m in ("pyarrow", "pandas")}
    assert "advanced_text_extraction_spark.kernels.ocr" in needed
    missing = needed - set(_daemon_state()["modules"])
    assert not missing, sorted(missing)
