"""Benchmark of the transcript-extraction engine, run from a checkout root:

    python3 perfbench/run.py --workload extract-docs --seed 1 \
        --seconds 12 --trace 0

Builds the workload's input from ``--seed`` (``workloads.py``), sizes a
``local[nproc]`` session and the job's bucket layout to the host, sets the
session up (JVM launch and a first full job), then runs the workload's
operation in a closed loop (one job at a time) for ``--seconds`` and
checks every output (``checks.py``). With ``--trace 0`` it reports the
end-to-end metrics of ``BENCHMARK.json``, its times scaled to a reference
CPU speed measured in the same run (``probes.HostSpeed``; the raw figures
are in the record); with ``--trace 1`` it instead runs one op, then times
each layer from outside by calling its public functions, and reports the
per-layer metrics listed with their targets in ``layers.json``.

The last stdout line is the result JSON; the line before it holds the
host facts. The full record (per-operation figures, checks, host) is
written to ``.bench_results/``. Scratch data lives in ``.bench_work/``
and is removed on exit, and every process the run started has ended
before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
WORKLOADS = ("extract-docs", "resume-half")
# The job's layout: two buckets per CPU, each salted into two tasks. The
# shipped default (32 buckets x salt 4 = 128 Python tasks) is sized for a
# 32-vCPU host; on 4 vCPUs its per-task cost alone makes every job take
# 15-20 s, whatever its input.
BUCKETS_PER_CPU = 2
SALT = 2
# the traced run checks curation only if it has used less than this many
# seconds by then, so that it ends within 180 s on a slow host
CURATE_BEFORE_S = 110
ABLATION_ROUNDS = 3
# ops an untraced run makes at the least, so that the median of their
# figures passes over one slow op: the first, which runs ~20% slower as the
# JIT settles, or one the host slowed
MIN_OPS = 3
OP_TIMEOUT_S = 120
CONTENT_TYPES = ("text", "html", "pdf", "docx", "excel", "powerpoint")
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "layers.json")) as _f:
    LAYERS = json.load(_f)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _identity_extract(batches):
    """mapInPandas body with extract's output schema and no kernel work:
    what the JVM <-> Arrow <-> pandas handoff costs on its own."""
    for pdf in batches:
        n = len(pdf)
        out = pdf.copy()
        for col, value in (("content_type", ""), ("extracted_text", ""),
                           ("confidence", 0.0), ("language", ""),
                           ("status", "ok"), ("error", ""),
                           ("extractor_version", ""), ("proc_us", 0)):
            out[col] = value
        out["spans"] = [[] for _ in range(n)]
        out["metadata"] = [{} for _ in range(n)]
        yield out


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, cpus: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work, self.cpus = trace, work, cpus
        self.n_buckets, self.salt = BUCKETS_PER_CPU * cpus, SALT
        self.spark = None
        self.record: dict = {"ops": [], "checks": {}, "layout": {
            "n_buckets": self.n_buckets, "salt": self.salt}}
        self.t_start = time.perf_counter()
        self.base_files: set[str] = set()  # files the timed op starts with

    # -- inputs ---------------------------------------------------------
    def make_inputs(self) -> None:
        import workloads
        from checks import reference_extract

        build = {"extract-docs": workloads.long_docs,
                 "resume-half": workloads.short_turns}[self.workload]
        df = build(self.seed)
        self.input = os.path.join(self.work, "input.parquet")
        df.to_parquet(self.input, index=False)
        self.input_rows = len(df)
        uniq = workloads.dedupe(df)
        ref = reference_extract(list(uniq["text"]), self.cpus)
        self.keys = list(zip(uniq["conv_id"], uniq["turn_idx"]))
        self.expected = dict(zip(self.keys, ref["rows"]))
        self.ref = ref
        mix: dict[str, int] = {}
        for row in ref["rows"]:
            mix[row[0]] = mix.get(row[0], 0) + 1
        self.record["input"] = {
            "rows": self.input_rows, "unique_rows": len(uniq),
            "bytes": os.path.getsize(self.input), "content_types": mix}

    # -- session --------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Launch a JVM and build a session, then warm it up with one full
        job over the input, so ops do not run as the JVM's first job (it
        runs 3-4 times slower, by an amount that varies from run to run,
        and a job over a few rows takes as long). On resume-half that job
        is the killed run: it finishes only the even buckets, and its
        warehouse is where every op starts. One set-up costs 30-40 s on a
        4-vCPU host, so a run makes only one."""
        from advanced_text_extraction_spark.sources.session import \
            build_session

        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "wh")})
        t1 = time.perf_counter()
        inp = self.spark.read.parquet(self.input)
        if self.workload == "resume-half":
            self.half = self.fresh("half")
            self.job(inp, self.half,
                     only_buckets=list(range(0, self.n_buckets, 2)))
        else:
            self.job(inp, self.fresh("warmup"))
        return t1 - t0, time.perf_counter() - t1

    def job(self, inp, out: str, **kwargs):
        from advanced_text_extraction_spark.plans.pipeline import \
            run_extract_job

        return run_extract_job(self.spark, inp, out, n_buckets=self.n_buckets,
                               salt=self.salt, **kwargs)

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- the timed operation --------------------------------------------
    def read_killed_run(self) -> None:
        """What the killed run left on resume-half: its finished buckets,
        files and the rows still to do."""
        import pyarrow.dataset as ds
        from checks import read_extracted

        from advanced_text_extraction_spark.sources import catalog

        self.done = catalog.completed_buckets(
            self.spark, self.half, _extractor_version(), self.n_buckets)
        self.base_files = {f["path"].split("/extracted/", 1)[1]
                           for f in read_extracted(self.half)}
        done_rows = ds.dataset(os.path.join(self.half, "lineage")) \
            .to_table(columns=["input_rows"]).column(0).to_pylist()
        self.missing_rows = self.input_rows - sum(done_rows)

    def operation(self, out: str):
        t0 = time.perf_counter()
        stats = self.job(self.spark.read.parquet(self.input), out)
        return time.perf_counter() - t0, stats

    def check(self, out: str, stats) -> dict:
        from checks import check_extracted, read_extracted

        files = read_extracted(out)
        problems = check_extracted(files, self.expected)
        if self.workload == "resume-half":
            if sorted(stats.buckets_skipped) != self.done:
                problems.append("resume skipped other buckets than the "
                                "killed run finished")
            new = [f for f in files
                   if f["path"].split("/extracted/", 1)[1]
                   not in self.base_files]
            rows = self.missing_rows
        else:
            new, rows = files, self.input_rows
        errors = sum(r["status"] == "error" for f in files for r in f["rows"])
        return {"problems": problems[:5], "n_problems": len(problems),
                "rows": rows, "output_files": len(new),
                # resume: errors over the finished warehouse and the whole
                # input, so the share does not hinge on which bucket the
                # broken payloads hash to
                "error_row_share": errors / self.input_rows}

    def timed_op(self, i: int) -> dict:
        from probes import HeapPeak, RssSampler, tree_cpu_s

        out = self.fresh(f"op{i}")
        if self.workload == "resume-half":
            shutil.copytree(self.half, out)  # the killed run's warehouse
        timer = threading.Timer(OP_TIMEOUT_S,
                                self.spark.sparkContext.cancelAllJobs)
        rec: dict = {"op": i}
        timer.start()
        try:
            # a full collection first, so the op's heap starts from what is
            # live rather than from however far the collector let it grow
            self.spark._jvm.System.gc()
            heap = HeapPeak(self.spark)
            cpu0 = tree_cpu_s()
            with RssSampler() as rss:
                wall, stats = self.operation(out)
            rec.update(wall_s=wall, cpu_s=tree_cpu_s() - cpu0,
                       peak_rss_mb=rss.peak["total"],
                       jvm_peak_mb=rss.peak["jvm"],
                       workers_peak_mb=rss.peak["workers"],
                       jvm_heap_peak_mb=heap.read_mb())
            t0 = time.perf_counter()
            rec.update(self.check(out, stats))
            rec["check_s"] = time.perf_counter() - t0
            rec["ok"] = rec["n_problems"] == 0
            rec["stats"] = stats
        except Exception as exc:  # any failure counts against the op
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}")
        finally:
            timer.cancel()
        rec["out"] = out
        return rec

    # -- runs -----------------------------------------------------------
    def run(self) -> dict:
        from probes import HostSpeed

        t0 = time.perf_counter()
        self.make_inputs()
        self.record["inputs_s"] = time.perf_counter() - t0
        build_s, warmup_s = self.record["setup"] = self.setup()
        if self.workload == "resume-half":
            self.read_killed_run()
        if self.trace:
            metrics = self.traced(build_s, warmup_s)
        else:
            speed = HostSpeed(self.cpus)
            try:
                speed.sample()
                t_end = time.perf_counter() + self.seconds
                while len(self.record["ops"]) < MIN_OPS \
                        or time.perf_counter() < t_end:
                    self.timed()
                    speed.sample()
            finally:
                speed.close()
            good = [o for o in self.record["ops"] if o["ok"]]
            # times are scaled to the reference CPU speed
            f = speed.factor()
            self.record["host_speed"] = {"factor": f, "spin_s": speed.samples}
            metrics = {
                "setup_s": ((build_s + warmup_s) / f, "s"),
                "rows_per_s": (_median([o["rows"] / o["wall_s"]
                                        for o in good]) * f, "1/s"),
                "cpu_s": (_median([o["cpu_s"] for o in good]) / f, "s"),
                "workers_peak_mb": (_median([o["workers_peak_mb"]
                                             for o in good]), "MB"),
                "error_row_share": (_median([o["error_row_share"]
                                             for o in good]), "share"),
                "output_files": (_median([o["output_files"] for o in good]),
                                 "count"),
            }
        ops = self.record["ops"]
        failed = sum(not o["ok"] for o in ops)
        return {"correct": failed == 0, "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def timed(self) -> dict:
        op = self.timed_op(len(self.record["ops"]))
        self.record["ops"].append(_public(op))
        return op

    def traced(self, build_s: float, warmup_s: float) -> dict:
        """Two ops, then the layer probes in the same session, set against
        the second op: it runs after the JIT has settled, as the median op
        of an untraced run does. The op's task metrics come from the status
        store every Spark session keeps, so tracing adds nothing to it."""
        from advanced_text_extraction_spark.sources import catalog
        from checks import read_extracted
        from probes import task_metrics

        sc = self.spark.sparkContext
        self.timed()
        sc.setJobGroup("op", "timed operation")
        op = self.timed()
        sc.setJobGroup("layers", "layer probes")
        if not op["ok"]:
            return {}
        m = {f"spark.{k}": v
             for k, v in task_metrics(self.spark, "op").items()}
        stats = op["stats"]
        m["catalog.buckets_skipped"] = len(stats.buckets_skipped)
        m["catalog.buckets_done"] = len(stats.buckets_done)
        m["catalog.output_bytes"] = _bytes_written(op["out"], self.base_files)
        # the resume probe and footer counts over the warehouse the op
        # started from (resume-half) or finished (extract-docs)
        probed = self.half if self.workload == "resume-half" else op["out"]
        t0 = time.perf_counter()
        catalog.completed_buckets(self.spark, probed, _extractor_version(),
                                  self.n_buckets)
        m["catalog.completed_buckets_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        catalog.bucket_row_counts(probed)
        m["catalog.bucket_row_counts_s"] = time.perf_counter() - t0
        m.update(_lineage_counts(op["out"], stats.run_id))
        m.update(self.ablation())
        gap = abs(m["pipeline.unaccounted_share"])
        self.record["checks"]["deltas_within_10pct"] = gap <= 0.10
        if gap > 0.10:
            print(f"perfbench: pipeline deltas are {gap:.0%} off the job's "
                  f"wall time", file=sys.stderr)
        if self.workload == "resume-half":
            if time.perf_counter() - self.t_start < CURATE_BEFORE_S:
                self.curate()
            else:
                self.record["checks"]["curate"] = "skipped: out of time"
        m["session.build_s"] = build_s
        m["session.warmup_s"] = warmup_s
        # kernels, timed in-process over this workload's deduped input
        ref = self.ref
        by_ct: dict[str, list[int]] = {}
        for row, us in zip(ref["rows"], ref["extract_us"]):
            by_ct.setdefault(row[0], []).append(us)
        missing = set(CONTENT_TYPES) - by_ct.keys()
        if missing:
            raise RuntimeError(f"no {sorted(missing)} rows in the input")
        for ct in CONTENT_TYPES:
            m[f"kernel.{ct}.us_p50"] = _pct(by_ct[ct], 50)
            m[f"kernel.{ct}.us_p99"] = _pct(by_ct[ct], 99)
        m["kernel.sniff.us_p50"] = _pct(ref["sniff_us"], 50)
        m["kernel.lang.us_p50"] = _pct(ref["lang_us"], 50)
        # kernel CPU of the rows the op extracted: on resume-half only
        # those of the buckets the killed run left
        extracted = set(self.keys)
        if self.workload == "resume-half":
            extracted = {(r["conv_id"], r["turn_idx"])
                         for f in read_extracted(op["out"])
                         if f["bucket"] not in self.done for r in f["rows"]}
        m["kernel.cpu_s"] = sum(us for key, us in zip(self.keys, ref["cpu_us"])
                                if key in extracted) / 1e6
        m["kernel.share"] = m["kernel.cpu_s"] / op["cpu_s"]
        m["rss.jvm_peak_mb"] = op["jvm_peak_mb"]
        m["rss.jvm_heap_peak_mb"] = op["jvm_heap_peak_mb"]
        m["rss.tree_peak_mb"] = op["peak_rss_mb"]
        if m.keys() != LAYERS.keys():
            raise RuntimeError(f"traced metrics differ from layers.json: "
                               f"{sorted(m.keys() ^ LAYERS.keys())}")
        return {k: (v, LAYERS[k]["unit"]) for k, v in m.items()}

    def ablation(self) -> dict:
        """Time each prefix of the flagship plan, built from the public
        functions run_extract_job composes, into a noop sink; each metric
        is the delta between the median walls of consecutive prefixes over
        ``ABLATION_ROUNDS`` rounds. Each round also times the whole job,
        as warm as its prefixes: the base of the share the deltas leave
        unaccounted for. On resume-half the plan skips the finished
        buckets and writes beside them, as the job does."""
        from pyspark.sql import functions as F

        from advanced_text_extraction_spark.operators.extract import (
            MAX_PAYLOAD_CHARS, extract, new_stats_accumulator, output_schema)
        from advanced_text_extraction_spark.plans.pipeline import (
            prepare, salted_repartition)
        from advanced_text_extraction_spark.sources import catalog

        spark = self.spark
        scan = spark.read.parquet(self.input)
        bucketed = prepare(scan, self.n_buckets)
        if self.workload == "resume-half":
            bucketed = bucketed.filter(~F.col("part_bucket").isin(self.done))
        exchange = salted_repartition(bucketed, self.n_buckets, self.salt)
        handoff = exchange.mapInPandas(_identity_extract,
                                       output_schema(exchange.schema))

        def extracted(acc):
            return extract(exchange, dedupe_keys=("conv_id", "turn_idx"),
                           stats_acc=acc, ocr_fallback_engine="auto",
                           max_payload_chars=MAX_PAYLOAD_CHARS)

        def sorted_(acc):
            return extracted(acc).drop("text").sortWithinPartitions(
                "part_bucket", "conv_id", "turn_idx")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        out = self.fresh("ablation")
        if self.workload == "resume-half":
            shutil.copytree(self.half, out)
        walls: dict[str, list[float]] = {}
        for _ in range(ABLATION_ROUNDS):
            acc = new_stats_accumulator(spark)  # the write pass's stats
            for name, run in (
                    ("scan", lambda: noop(scan)),
                    ("exchange", lambda: noop(exchange)),
                    ("handoff", lambda: noop(handoff)),
                    ("kernel", lambda: noop(extracted(None))),
                    ("sort", lambda: noop(sorted_(None))),
                    ("write",
                     lambda: catalog.write_extracted(sorted_(acc), out))):
                t0 = time.perf_counter()
                run()
                walls.setdefault(name, []).append(time.perf_counter() - t0)
            # lineage: the resume probe before the job, then footer counts
            # and the lineage append after the write, as run_extract_job
            # does them
            t0 = time.perf_counter()
            catalog.completed_buckets(
                spark, self.half if self.workload == "resume-half"
                else self.fresh("no-lineage"),
                _extractor_version(), self.n_buckets)
            counts = catalog.bucket_row_counts(out, set(acc.value))
            rows = [(b, v[0], v[2], counts.get(b, v[1]), v[3], v[4] // 1000)
                    for b, v in sorted(acc.value.items())]
            catalog.append_lineage(spark.createDataFrame(
                rows, "part_bucket int, input_rows long, input_bytes long, "
                "output_rows long, error_rows long, wall_ms long")
                .withColumns({"n_buckets": F.lit(self.n_buckets),
                              "extractor_version": F.lit(_extractor_version()),
                              "run_id": F.lit("ablation"),
                              "finished_ts": F.current_timestamp()}), out)
            walls.setdefault("lineage", []).append(time.perf_counter() - t0)
            job_out = self.fresh("ablation-job")
            if self.workload == "resume-half":
                shutil.copytree(self.half, job_out)
            t0 = time.perf_counter()
            self.job(spark.read.parquet(self.input), job_out)
            walls.setdefault("job", []).append(time.perf_counter() - t0)

        m, prev = {}, 0.0
        for name in ("scan", "exchange", "handoff", "kernel", "sort", "write"):
            wall = _median(walls[name])
            m[f"pipeline.{name}_s"] = wall - prev
            prev = wall
        lineage = _median(walls["lineage"])
        m["pipeline.lineage_s"] = lineage
        job = _median(walls["job"])
        m["pipeline.unaccounted_share"] = (job - prev - lineage) / job
        return m

    def curate(self) -> None:
        """curation_policy then dedup_clusters over a seeded corpus with
        planted twins (no timed workload runs them), twice. Recorded as an
        op that fails unless every planted twin lands in its source's
        cluster and both passes return the same rows."""
        import workloads
        from checks import check_clusters, rows_hash

        from advanced_text_extraction_spark.operators.curation import \
            curation_policy
        from advanced_text_extraction_spark.operators.dedup import \
            dedup_clusters

        corpus, planted = workloads.curate_corpus(self.seed)
        path = os.path.join(self.work, "corpus.parquet")
        corpus.to_parquet(path, index=False)
        docs = self.spark.read.parquet(path)
        passes = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                policy = curation_policy(docs, "doc_id", "text").collect()
                t1 = time.perf_counter()
                stats: dict = {}
                clusters = dedup_clusters(docs, "doc_id", "text",
                                          stats=stats).collect()
                passes.append({"policy": policy, "clusters": clusters,
                               "stats": stats, "policy_s": t1 - t0,
                               "clusters_s": time.perf_counter() - t1})
        except Exception as exc:  # any failure counts against the op
            self.record["ops"].append({
                "op": "curate", "ok": False,
                "error": f"{type(exc).__name__}: {exc}"})
            return
        first = passes[0]
        found = {r["doc_id"]: r["cluster_id"] for r in first["clusters"]}
        problems = check_clusters(found, planted)
        hashes = [rows_hash(p["policy"] + p["clusters"]) for p in passes]
        if hashes[0] != hashes[1]:
            problems.append("curate output differs between passes")
        self.record["ops"].append({
            "op": "curate", "ok": not problems, "problems": problems[:5],
            "n_problems": len(problems), "output_sha256": hashes[0]})
        self.record["curation_probes"] = {
            "curation.policy_s": first["policy_s"],
            "curation.kept_rows": sum(r["keep"] for r in first["policy"]),
            "dedup.cc_rounds": first["stats"].get("rounds", 0),
            "dedup.clusters_s": first["clusters_s"],
            "dedup.planted_recall": 1 - sum(
                p.startswith("twin") for p in problems) / len(planted)}


def _extractor_version() -> str:
    from advanced_text_extraction_spark.operators.extract import \
        EXTRACTOR_VERSION
    return EXTRACTOR_VERSION


def _bytes_written(root: str, before: set[str]) -> int:
    """Bytes of the parquet files under ``root`` not in ``before``."""
    base = os.path.join(root, "extracted")
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(base) for n in names
               if n.endswith(".parquet")
               and os.path.relpath(os.path.join(d, n), base) not in before)


def _lineage_counts(root: str, run_id: str) -> dict:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(root, "lineage"), format="parquet") \
        .to_table(filter=pc.field("run_id") == run_id)
    rows_in = pc.sum(t["input_rows"]).as_py() or 0
    rows_out = pc.sum(t["output_rows"]).as_py() or 0
    return {"extract.rows_in": rows_in, "extract.rows_out": rows_out,
            "extract.dedupe_dropped": rows_in - rows_out,
            "extract.kernel_ms": pc.sum(t["wall_ms"]).as_py() or 0}


def _stop_jvm() -> None:
    """End the JVM the session launched and wait for it: it exits when its
    stdin closes, and is killed if it has not after a minute."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants
    (PR_SET_CHILD_SUBREAPER). The Python workers' daemon outlives the JVM
    that forked it by a moment; without this it would pass to init, out of
    reach of ``_end_children``."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36: PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _end_children(grace_s: float = 30) -> None:
    """Wait until every process the run started has ended: the Python
    workers and their daemon, pool workers and multiprocessing's resource
    tracker. Whatever is still running after ``grace_s`` is killed."""
    from multiprocessing import resource_tracker

    from probes import tree

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in tree():
                if pid != os.getpid():
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def _public(op: dict) -> dict:
    return {k: v for k, v in op.items() if k not in ("stats", "out")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "advanced_text_extraction_spark"))
            and os.path.isfile(os.path.join(ROOT, "fixtures", "gen.py"))):
        print("perfbench: run from the root of a checkout that holds "
              "advanced_text_extraction_spark/ and fixtures/",
              file=sys.stderr)
        return 2

    from probes import host_facts, mem_total_gb

    cpus = len(os.sched_getaffinity(0))
    driver_mem = f"{max(1, int(mem_total_gb() * 0.25))}g"
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the package reads its host sizing from these; everything the JVM and
    # the Python workers write goes under the work dir
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": driver_mem,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "SPARK_DRIVER_JAVA_OPTS":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)})
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work, cpus)
    _adopt_orphans()
    # a run stopped with SIGTERM still ends every process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    try:
        result = bench.run()
    finally:
        t1 = time.perf_counter()
        try:
            if bench.spark is not None:
                bench.spark.stop()
        finally:
            _stop_jvm()
            _end_children()
            shutil.rmtree(work, ignore_errors=True)
    bench.record["teardown_s"] = time.perf_counter() - t1
    bench.record["elapsed_s"] = time.perf_counter() - t0
    host = host_facts(cpus, driver_mem)
    out_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"host": host, "args": vars(args), "result": result,
                   **bench.record}, f, indent=1, default=str)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
