"""Measurements taken from outside the program: CPU and resident memory
of the benchmark's process tree (driver, JVM, Python workers) from
``/proc``, JVM heap use over JMX, host facts, and task metrics from
Spark's status store."""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import subprocess
import threading
import time
from multiprocessing import get_context

TICK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _procs() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss MB)."""
    out = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                s = f.read()
        except OSError:  # the process ended while we listed it
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        f = s[s.rindex(")") + 2:].split()
        # fields after comm: state ppid ...; utime stime cutime cstime are
        # stat fields 14-17, rss is field 24 (man 5 proc)
        cpu = sum(int(x) for x in f[11:15]) / TICK
        out[int(path.split("/")[2])] = (int(f[1]), comm, cpu,
                                        int(f[21]) * PAGE_MB)
    return out


def tree(root: int | None = None) -> dict[int, tuple[str, float, float, int]]:
    """The process tree under ``root`` (default: this process):
    pid -> (comm, cpu s, rss MB, depth below the JVM: 0 for its
    children, -1 for the JVM and everything not under it)."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p[0], []).append(pid)
    root = root or os.getpid()
    out, stack = {}, [(root, -1)]
    while stack:
        pid, below_jvm = stack.pop()
        if pid not in procs:
            continue
        _, comm, cpu, rss = procs[pid]
        out[pid] = (comm, cpu, rss, below_jvm)
        nxt = 0 if comm == "java" else (below_jvm + 1 if below_jvm >= 0
                                        else -1)
        stack += [(k, nxt) for k in kids.get(pid, ())]
    return out


def tree_cpu_s() -> float:
    return sum(p[1] for p in tree().values())


def pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between processes (the Python
    workers are forks of one daemon) count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:  # the process ended
        pass
    return 0.0


class RssSampler:
    """Samples the tree's resident memory every ``interval``
    seconds and keeps the peaks: whole tree, JVM, and the Python workers
    (processes below the JVM)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        # PSS only where pages are shared: it costs a page-table walk, which
        # on the JVM's multi-GB heap would take ~20 ms per sample
        pss = {pid: (p[0], p[3], pss_mb(pid) if p[3] >= 0 else p[2])
               for pid, p in tree().items()}
        now = {"total": sum(p[2] for p in pss.values()),
               "jvm": sum(p[2] for p in pss.values() if p[0] == "java"),
               "workers": sum(p[2] for p in pss.values() if p[1] >= 0)}
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class HeapPeak:
    """Peak use of the JVM heap from construction to ``read_mb``: the sum
    of the heap memory pools' peaks (eden, survivor, old generation), read
    over JMX. Unlike resident size it does not stay at a high-water mark
    once the heap has grown."""

    def __init__(self, spark):
        beans = spark._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in beans.getMemoryPoolMXBeans()
                      if str(p.getType()) == "Heap memory"]
        for p in self.pools:
            p.resetPeakUsage()

    def read_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20


SPIN_ITERS = 2_000_000
# Seconds SPIN_ITERS take on the reference CPU that time metrics are
# scaled to (HostSpeed.factor).
SPIN_REF_S = 0.15


def _spin(_) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(SPIN_ITERS):
        x += i * i
    return time.perf_counter() - t0


class HostSpeed:
    """How fast this host's CPUs run right now, from a fixed pure-Python
    loop timed on every core. The host's speed drifts by +-25% over
    minutes as its neighbours' load changes, moving every timing of a run
    together; dividing times by ``factor()`` takes that drift out."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.samples: list[float] = []
        self._pool = get_context("spawn").Pool(cpus)

    def sample(self, repeats: int = 4) -> None:
        self.samples += [statistics.median(
            self._pool.map(_spin, range(self.cpus))) for _ in range(repeats)]

    def factor(self) -> float:
        """Median spin time over the reference: above 1 on a slow host."""
        return statistics.median(self.samples) / SPIN_REF_S

    def close(self) -> None:
        self._pool.close()
        self._pool.join()


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_facts(cpus: int, driver_mem: str) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    commit = "unknown"
    if os.path.isdir(".git"):
        commit = subprocess.run(["git", "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip()
    return {"nproc": cpus, "mem_total_gb": round(mem_total_gb(), 2),
            "driver_memory": driver_mem,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java[0] if java else "unknown", "commit": commit}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _graph_names(cluster) -> list[str]:
    names = [cluster.name()] + [n.name() for n in _seq(cluster.childNodes())]
    for child in _seq(cluster.childClusters()):
        names += _graph_names(child)
    return names


def task_metrics(spark, job_group: str) -> dict:
    """Sum the task metrics of the stages every job of ``job_group`` ran,
    read from the status store each Spark session keeps (over py4j; no
    event log needed). A stage counts as a Python stage when its operator
    graph holds a pandas operator."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the store is filled from events
    store = sc.statusStore()
    no_filter = spark._jvm.java.util.ArrayList()
    stage_ids: set[int] = set()
    for job in _seq(store.jobsList(no_filter)):
        group = job.jobGroup()
        if group.isDefined() and group.get() == job_group:
            stage_ids.update(_seq(job.stageIds()))
    out = dict.fromkeys(("tasks", "python_stage_tasks", "task_failures"), 0)
    out.update(dict.fromkeys(("task_run_s", "task_cpu_s", "gc_s",
                              "shuffle_write_bytes", "spill_bytes"), 0.0))
    quantiles = getattr(store, "stageData$default$5")()
    for sid in stage_ids:
        for st in _seq(store.stageData(sid, False, no_filter, False,
                                       quantiles)):
            if str(st.status()) == "SKIPPED":
                continue
            tasks = (st.numCompleteTasks() + st.numFailedTasks()
                     + st.numKilledTasks())
            out["tasks"] += tasks
            if any("InPandas" in n for n in _graph_names(
                    store.operationGraphForStage(sid).rootCluster())):
                out["python_stage_tasks"] += tasks
            out["task_failures"] += st.numFailedTasks() + st.numKilledTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
    return out
