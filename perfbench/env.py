"""Environment pinning, the Spark session's life cycle, and the
measurements taken from outside the JVM (RSS, event log, status
tracker).

Everything a run writes goes under one work directory inside the
checkout: Spark local dirs, the JVM and Python temp dirs, the
warehouse, the event log and every generated table.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import subprocess
import sys
import tempfile

DRIVER_MEM = "2g"
PACKAGE_DIR = "ccxt_ohlcv_fetcher_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor ran other guests on this machine's CPUs
    (the steal column of /proc/stat, summed over CPUs)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def pin(work_dir: str) -> dict[str, str]:
    """Pin the engine to this machine and keep every scratch write in
    ``work_dir``. Returns the variables set."""
    mem_mb = int(DRIVER_MEM.rstrip("g")) * 1024
    if mem_mb >= ram_mb():
        raise RuntimeError(f"driver memory {DRIVER_MEM} is not below RAM {ram_mb()} MB")
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_SHUFFLE": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the JVMs' perf-data files would go to /tmp, outside the checkout
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    tempfile.tempdir = tmp
    return pinned


def competing_processes() -> list[str]:
    """Other Spark, pytest or benchmark processes on the machine; their
    GC and page-cache pressure distorts timings, so a run records them."""
    me = {os.getpid(), os.getppid()}
    hits = []
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(d.rsplit("/", 1)[1])
        if pid in me:
            continue
        try:
            with open(f"{d}/cmdline", "rb") as fh:
                args = fh.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid in me:
            continue
        if any(k in args for k in ("pytest", "bench.py", "perfbench/run.py", "SparkSubmit")):
            hits.append(f"{pid}: {args[:100]}")
    return hits


def source_digest(root: str) -> str:
    """sha256 over the program's source files: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, PACKAGE_DIR, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if ref.startswith("ref: "):
        ref_path = os.path.join(root, ".git", ref[5:])
        if not os.path.isfile(ref_path):
            return None
        with open(ref_path) as fh:
            ref = fh.read().strip()
    return ref


def describe(root: str, seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "seed": seed,
        "commit": git_commit(root),
        "source_digest": source_digest(root),
        "competing": competing_processes(),
    }


# --- session --------------------------------------------------------------

def session_conf(work_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # the heap is capped by DRIVER_MEM (-Xmx) but grows on demand, so
        # peak RSS follows the heap the workload uses
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def warm_up(spark) -> None:
    """The session warm-up every workload pays: one shuffle job and one
    Python-rows-to-JVM job, the two paths all workloads start with."""
    spark.range(0, 20000, numPartitions=nproc()).selectExpr("id % 97 AS k").groupBy(
        "k"
    ).count().collect()
    spark.createDataFrame([(i, float(i)) for i in range(100)], "a long, b double").collect()


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this Python driver and of the JVM."""
    out = {}
    proc = jvm_process()
    for who, pid in (("python", os.getpid()), ("jvm", proc.pid if proc else None)):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out[who] = int(line.split()[1]) / 1024
    return out


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the active session and the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = jvm_process()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)


class JobGroups:
    """Per-operation Spark job groups and their job/stage/task counts,
    read back from the status tracker right after each operation. A
    disabled instance (untraced runs) does nothing."""

    def __init__(self, spark, prefix: str, enabled: bool):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.enabled = enabled
        self.seq = 0
        self.current: str | None = None
        self.jobs = self.stages = self.tasks = 0

    def begin(self) -> None:
        if not self.enabled:
            return
        self.seq += 1
        self.current = f"{self.prefix}-{self.seq}"
        self.enter_thread()

    def enter_thread(self) -> None:
        """Tag jobs submitted from the calling thread with the current group."""
        if self.current is not None:
            self.sc.setJobGroup(self.current, self.current)

    def end(self) -> None:
        if self.current is None:
            return
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = tracker.getJobIdsForGroup(self.current)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is not None:
                self.tasks += st.numTasks
        self.jobs += len(jobs)
        self.stages += len(stage_ids)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.current = None


def event_log_totals(work_dir: str, group_prefix: str, window_s: float, cores: int) -> dict:
    """Task-time, GC, shuffle and spill totals of the jobs whose group
    starts with ``group_prefix``, from the last application's event log."""
    logs = sorted(glob.glob(os.path.join(work_dir, "eventlog", "*")), key=os.path.getmtime)
    totals = {"task_run_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0.0,
              "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    if not logs:
        return {**totals, "core_busy_ratio": 0.0}
    stages: set[int] = set()
    with open(logs[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if group.startswith(group_prefix):
                    stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                totals["task_run_ms"] += m.get("Executor Run Time", 0)
                totals["gc_ms"] += m.get("JVM GC Time", 0)
                totals["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                totals["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    totals["core_busy_ratio"] = totals["task_run_ms"] / 1000 / max(window_s * cores, 1e-9)
    return totals
