"""The spark-submit job runs from the package zip alone: zipped as the
README ships it, submitted with ``--py-files`` from a directory that does
not hold the package, with no ``PYTHONPATH``. Python workers fork from
the package's daemon, which starts before any task puts the zip on
``sys.path``, so this is the path that breaks if the session does not
hand the workers the package. The job runs on the launcher's
``--master``: the script has no master flag of its own, and the session
must not replace the launcher's with the host's CPU count."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow.parquet as pq
import pyspark

from fixtures.gen import write_transcripts_parquet

ROOT = Path(__file__).resolve().parent.parent
N_BUCKETS = 4


def _spark_submit() -> str:
    return (shutil.which("spark-submit")
            or str(Path(pyspark.__file__).parent / "bin" / "spark-submit"))


def test_spark_submit_from_the_zip(tmp_path):
    pkg_zip = tmp_path / "ate_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for f in sorted((ROOT / "advanced_text_extraction_spark")
                        .rglob("*.py")):
            zf.write(f, f.relative_to(ROOT))
    inp = write_transcripts_parquet(str(tmp_path / "transcripts.parquet"),
                                    300, 12, 7)
    table = pq.read_table(inp, columns=["conv_id", "turn_idx"])
    n_keys = table.group_by(["conv_id", "turn_idx"]).aggregate([]).num_rows
    out = tmp_path / "wh"
    cwd = tmp_path / "neutral"
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    cmd = [_spark_submit(), "--master", "local[2]", "--driver-memory", "1g",
           "--py-files", str(pkg_zip), str(ROOT / "scripts" / "run_extract.py"),
           "--input", inp, "--output", str(out),
           "--n-buckets", str(N_BUCKETS)]

    def submit() -> dict:
        res = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                             text=True, timeout=600)
        assert res.returncode == 0, res.stderr[-4000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    first = submit()
    assert first["master"] == "local[2]"  # the launcher's, not the host's
    assert first["input_rows"] == table.num_rows
    assert sorted(first["buckets_done"]) == list(range(N_BUCKETS))
    assert first["buckets_skipped"] == []
    assert first["turns_per_sec"] > 0
    extracted = pq.read_table(out / "extracted", columns=["status"])
    assert extracted.num_rows == n_keys  # one row per turn after dedupe
    assert extracted.column("status").to_pylist().count("ok") > 0

    rerun = submit()  # resume no-op: every bucket is done
    assert rerun["input_rows"] == 0
    assert rerun["buckets_done"] == []
    assert sorted(rerun["buckets_skipped"]) == list(range(N_BUCKETS))
    assert pq.read_table(out / "extracted", columns=["status"]).num_rows \
        == extracted.num_rows
