"""Spark session, package shipping, and the engine-side counters.

Everything here talks to Spark through its public Python API or through the
JVM objects PySpark already exposes (``df._jdf.queryExecution()``, JMX).
Nothing is imported from ``bench.py`` or ``__spark_entry__``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import threading
import time
import zipfile

import numpy as np

_ENV_KEYS = ("TMPDIR", "SPARK_LAUNCHER_OPTS", "PYSPARK_PYTHON",
             "PYSPARK_DRIVER_PYTHON", "PYSPARK_SUBMIT_ARGS")

PYTHON_NODES = ("ArrowEvalPython", "ArrowAggregatePython", "MapInArrow",
                "MapInPandas", "FlatMapGroupsInArrow", "FlatMapGroupsInPandas",
                "BatchEvalPython", "AggregateInPandas")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def physical_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class SparkEnv:
    """Owns the JVM and the SparkContext for one benchmark run.

    ``start()`` is the measured set-up unit: it creates a SparkContext
    (launching the JVM the first time) and ships the package to the Python
    workers. ``restart()`` stops the context, which also stops its Python
    workers and drops cached tables, and starts a new one in the same JVM.
    ``close()`` stops the context and the JVM and waits for it to exit."""

    def __init__(self, root: str, workdir: str, cores: int, driver_mem_mb: int):
        self.root = root
        self.workdir = workdir
        self.cores = cores
        self.driver_mem_mb = driver_mem_mb
        self.spark = None
        self.tmp = os.path.join(workdir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        # the gateway's connection file, Spark's scratch, the JVMs' temp
        # files and the Python workers' temp files all stay inside the
        # run's work directory; no JVM writes /tmp/hsperfdata_*
        self._saved_env = {k: os.environ.get(k) for k in _ENV_KEYS}
        self._saved_tempdir = tempfile.tempdir
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)

    def start(self):
        from pyspark.sql import SparkSession

        c = str(self.cores)
        self.spark = (
            SparkSession.builder.master(f"local[{c}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{self.driver_mem_mb}m")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData")
            .config("spark.local.dir", os.path.join(self.workdir, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.workdir, "warehouse"))
            .config("spark.sql.shuffle.partitions", c)
            .config("spark.default.parallelism", c)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._ship_package()
        return self.spark

    def _ship_package(self) -> None:
        """Executors do not inherit the driver's sys.path; zip the package
        from the checkout and hand it to every Python worker."""
        zpath = os.path.join(self.workdir, "polars_st_spark.zip")
        pkg = os.path.join(self.root, "polars_st_spark")
        with zipfile.ZipFile(zpath, "w") as z:
            for d, _dirs, files in os.walk(pkg):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, self.root))
        self.spark.sparkContext.addPyFile(zpath)

    def restart(self):
        self.spark.stop()
        self.spark = None
        return self.start()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = gw.proc if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=20)
        SparkContext._gateway = None
        SparkContext._jvm = None
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = self._saved_tempdir


# ---------------------------------------------------------------------------
# Executed-plan metric walker
# ---------------------------------------------------------------------------

def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _node_metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk_plan(df) -> list:
    """[(node_name, {metric: value})] of the executed physical plan of
    ``df``, after an action ran on ``df`` itself. Descends through
    AdaptiveSparkPlan (``.executedPlan()``) and query stages (``.plan()``),
    so every node that actually ran is listed once per appearance."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        out.append((name, _node_metrics(node)))
        stack.extend(reversed(_seq(node.children())))
    return out


def plan_counters(nodes: list) -> dict:
    """Fold walker output into the per-layer counters of one query."""
    c = {"python_nodes": 0, "python_time_ms": 0, "python_init_ms": 0,
         "bytes_sent": 0, "bytes_received": 0, "rows_received": 0,
         "shuffle_bytes": 0, "scan_rows": 0}
    for name, m in nodes:
        if name.startswith(PYTHON_NODES):
            c["python_nodes"] += 1
            c["python_time_ms"] += m.get("pythonTotalTime", 0)
            c["python_init_ms"] += m.get("pythonInitTime", 0) + m.get("pythonBootTime", 0)
            c["bytes_sent"] += m.get("pythonDataSent", 0)
            c["bytes_received"] += m.get("pythonDataReceived", 0)
            c["rows_received"] += m.get("pythonNumRowsReceived", 0)
        if "Exchange" in name:
            c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        if name.startswith("Scan") or "FileScan" in name:
            c["scan_rows"] += m.get("numOutputRows", 0)
    return c


# ---------------------------------------------------------------------------
# Jobs, stages and tasks per job group
# ---------------------------------------------------------------------------

def job_counts(sc, group: str) -> dict:
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tr.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tr.getStageInfo(s)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


# ---------------------------------------------------------------------------
# Python worker RSS, sampled from /proc
# ---------------------------------------------------------------------------

def _children_map() -> dict:
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rfind(")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def python_worker_pids(jvm_pid: int) -> list:
    """Python processes descending from the JVM: the worker daemon and the
    workers it forks."""
    kids = _children_map()
    out, stack = [], list(kids.get(jvm_pid, []))
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            out.append(p)
        stack.extend(kids.get(p, []))
    return out


class RssSampler:
    """Background thread: peak of the summed RSS of the Python workers."""

    def __init__(self, jvm_pid: int, period_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in python_worker_pids(self.jvm_pid))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Host health witnesses
# ---------------------------------------------------------------------------

FAULT_US_DEGRADED = 8.0
MEMBW_GBS_DEGRADED = 3.0


def fault_us_per_page() -> float:
    """First-touch cost of fresh anonymous pages (us per 4 KiB page, 64 MiB
    probe). About 0.2 us on a healthy host; tens of us where the hypervisor
    backs guest memory lazily and is under pressure."""
    n_pages = (64 << 20) >> 12
    t0 = time.perf_counter()
    buf = np.empty(n_pages * 512, dtype=np.float64)
    buf[::512] = 1.0
    dt = time.perf_counter() - t0
    del buf
    return dt / n_pages * 1e6


def membw_gbs() -> float:
    """Single-thread streaming copy bandwidth (read + write), best of 3
    over 128 MB into an already-touched buffer, so page faults stay out of
    it (fault_us_per_page measures those)."""
    a = np.ones(16_000_000, dtype=np.float64)
    b = np.zeros_like(a)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(b, a)
        dt = time.perf_counter() - t0
        best = max(best, 2 * a.nbytes / dt / 1e9)
    return best


def host_probe() -> dict:
    f, m = fault_us_per_page(), membw_gbs()
    return {"fault_us": f, "membw_gbs": m,
            "degraded": f >= FAULT_US_DEGRADED or m < MEMBW_GBS_DEGRADED}
