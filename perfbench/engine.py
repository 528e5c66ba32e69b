"""The benchmark's Spark session and the engine-side readings it takes.

- `start_session` sizes a local session to this host, keeps every file
  Spark and the JVM write inside the run's work directory, and makes the
  Python workers import xmlschema_spark from the checkout
  (`use_checkout_package`).
- `WorkerRss` reads the Python workers' peak RSS from /proc.
- `stage_metrics` sums the status-store stage metrics of one job group.
- `host_record` and `codec_probe` describe the host a run measured on.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import time
import zlib

# numpy/BLAS threads: four workers times N threads oversubscribe a small
# host; the environment must be set before the JVM (and the Python
# workers it forks) start
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def host_nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) // 1024
    return out


def driver_heap_mb(total_mb: int) -> int:
    """A quarter of physical memory, between 1 and 4 GiB: the host is
    shared, and the benchmark's tables are tens of megabytes."""
    return max(1024, min(4096, total_mb // 4))


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants, so processes
    the JVM starts and leaves behind are reparented here and
    `stop_jvm` can wait for them (Linux prctl PR_SET_CHILD_SUBREAPER)."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def start_session(repo_root: str, work_dir: str, nproc: int):
    for var in THREAD_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers inherit the JVM's PYTHONPATH: the checkout's package
    # is the one they import (see use_checkout_package)
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if repo_root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([repo_root] + [p for p in paths if p])
    from pyspark.sql import SparkSession
    heap = driver_heap_mb(meminfo_mb()["MemTotal"])
    spark = (
        SparkSession.builder
        .master(f"local[{nproc}]")
        .appName("xmlschema_spark_perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.driver.memory", f"{heap}m")
        # a fixed heap does not resize during the timed loop; no
        # hsperfdata file in /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    use_checkout_package(spark)
    return spark


def use_checkout_package(spark) -> None:
    """Mark the context as already shipped, so the package's
    `distribute.ensure_distributed` is a no-op: `start_session` puts the
    checkout on the workers' PYTHONPATH instead.

    `ensure_distributed` zips the package to /tmp/xmlschema_spark_pkg.zip
    and reuses that zip while it is newer than the sources. When two
    checkouts are benchmarked in turn, the later one would find the
    earlier one's zip newer than its own sources and ship the earlier
    one's code to the workers (addPyFile puts the zip ahead of
    PYTHONPATH). The benchmark also writes only inside its checkout."""
    from xmlschema_spark import distribute
    setattr(spark.sparkContext, distribute._SENT_ATTR, True)


def stop_jvm() -> None:
    """Stop the active context, then end the JVM and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    except Py4JError:
        pass        # the gateway is already broken; the JVM is ended below
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM's gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_children(timeout=30)


def _reap_children(timeout: float) -> None:
    """Wait for every remaining child (orphans adopted from the JVM);
    kill those still running after `timeout` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children().get(os.getpid(), []):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _children() -> dict:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


class WorkerRss:
    """Peak summed RSS of the Spark Python workers (the `pyspark.daemon`
    process and the workers it forks), from /proc.

    Workers are reused across tasks, so each live worker's VmHWM is its
    peak since it was forked; `sample()`, called after set-up and after
    every iteration, sums them and keeps the largest sum seen."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_mb = 0.0

    def _workers(self) -> list[int]:
        kids = _children()
        out, stack = [], [self.jvm_pid]
        while stack:
            for child in kids.get(stack.pop(), []):
                stack.append(child)
                try:
                    with open(f"/proc/{child}/cmdline", "rb") as f:
                        if b"pyspark.daemon" in f.read():
                            out.append(child)
                except OSError:
                    pass
        return out

    def sample(self) -> float:
        total_kb = 0
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass           # the worker exited between listing and read
        self.peak_mb = max(self.peak_mb, total_kb / 1024.0)
        return total_kb / 1024.0


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


STAGE_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
              "shuffle_write_bytes", "spill_bytes", "tasks")


def stage_metrics(spark, group: str, task_skew: bool = False) -> dict | None:
    """Sums of the stage metrics of every job in `group`, read from
    Spark's status store (private API; it answers with the UI disabled).
    Returns None when the store cannot be read, so callers fall back to
    wall clock. With task_skew, also the max/median task duration of the
    stage that read the most shuffle bytes."""
    from py4j.protocol import Py4JError
    sc = spark.sparkContext
    try:
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Py4JError:
            time.sleep(0.2)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        stage_ids = set()
        jobs = tracker.getJobIdsForGroup(group)
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["jobs"] = len(jobs)
        heaviest, heaviest_read = None, -1
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JError:
                continue       # a skipped stage that never ran
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["tasks"] += sd.numCompleteTasks()
            if sd.shuffleReadBytes() > heaviest_read and sd.numCompleteTasks():
                heaviest, heaviest_read = sd, sd.shuffleReadBytes()
        if task_skew:
            out["task_skew"] = _task_skew(store, heaviest)
        return out
    except Py4JError:
        return None


def _task_skew(store, sd) -> float:
    if sd is None:
        return 0.0
    tasks = store.taskList(sd.stageId(), sd.attemptId(), 100_000)
    it = tasks.iterator()
    durations = []
    while it.hasNext():
        d = it.next().duration()
        if d.isDefined():
            durations.append(float(d.get()))
    if not durations:
        return 0.0
    durations.sort()
    med = durations[len(durations) // 2]
    return durations[-1] / med if med > 0 else 0.0


def codec_probe(seconds: float = 0.5) -> float:
    """Single-core zlib round trip in MB/s: the loop bench.py records, so
    host drift can be told apart from engine changes."""
    buf = bytes(range(256)) * 64
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < seconds:
        zlib.decompress(zlib.compress(buf, 1))
        n += 1
    return n * len(buf) / (time.monotonic() - t0) / 1e6


def _conf(spark, key: str) -> str:
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException
    try:
        return spark.conf.get(key)
    except (Py4JError, PySparkException):
        return spark.sparkContext.getConf().get(key, "<default>")


def host_record(spark, nproc: int) -> dict:
    import pyarrow
    import pyspark
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes",
            "spark.python.worker.reuse", "spark.ui.enabled",
            "spark.ui.showConsoleProgress", "spark.sql.session.timeZone")
    return {
        "nproc": nproc,
        "mem_mb": meminfo_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_conf": {k: _conf(spark, k) for k in keep},
        "thread_env": {v: os.environ.get(v) for v in THREAD_VARS},
    }
