"""The Python worker daemon: PySpark's own, with the flagship's imports
preloaded and frozen before the first fork.

``sources/session.build_session`` names this module in
``spark.python.daemon.module``. Every Python worker is a fork of the
daemon, so a module imported here is shared copy-on-write by all of them
instead of being loaded once per worker, and ``gc.freeze()`` moves the
import heap out of the collector's reach: the per-task ``gc.collect()``
of a reused worker no longer walks (and so dirties) those pages.

The list is what a flagship ``mapInArrow`` task imports, OCR fallback
included (the default ``ExtractOptions`` engine, ``'auto'``, builds it
in every task);
``tests/test_worker_daemon.py`` fails if a task imports a package module
that is not here. Nothing here may start a thread: a fork keeps only the
forking one. pyarrow's jemalloc would start its background purge thread
at import; it is switched off here, which changes no worker, since
jemalloc never restarts that thread in a forked child.
"""

import gc
import os

# later options win in a jemalloc conf string, so this one overrides
os.environ["JE_ARROW_MALLOC_CONF"] = ",".join(filter(None, (
    os.environ.get("JE_ARROW_MALLOC_CONF"), "background_thread:false")))

import pyspark.daemon  # noqa: E402
import pyarrow  # noqa: E402,F401
import pyarrow.compute  # noqa: E402,F401
import pandas  # noqa: E402,F401

from ..operators import extract, ocr  # noqa: E402,F401

gc.collect()
gc.freeze()

if __name__ == "__main__":
    pyspark.daemon.manager()
