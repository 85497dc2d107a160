"""Process, session and sampling plumbing shared by every workload.

Everything the benchmark writes (Spark local dirs, event logs, the JVM
temp dir, span dumps) lives under ``<checkout>/.perfbench_work/<run>``
and is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def host_cores() -> int:
    """Worker threads for ``local[N]``: at most 4, never more than the
    cores this process may run on."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_memory_mb() -> int:
    """A quarter of host RAM, capped at 2 GiB (the driver JVM also
    hosts the executor in local mode; the workloads need far less)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 4))
    return 2048


class RunDir:
    """Per-run scratch tree inside the checkout; ``close`` deletes it."""

    def __init__(self) -> None:
        self.path = WORK / f"run-{os.getpid()}-{time.time_ns()}"
        self.local = self.path / "local"
        self.events = self.path / "events"
        self.tmp = self.path / "tmp"
        for d in (self.local, self.events, self.tmp):
            d.mkdir(parents=True, exist_ok=True)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK.rmdir()  # only when no other run is using it
        except OSError:
            pass


def prepare_env(run_dir: RunDir) -> None:
    """Environment the JVM and its Python workers inherit: the package
    on the workers' path, and every temp file inside the run dir."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir.local)
    os.environ["TMPDIR"] = str(run_dir.tmp)
    # every JVM spark-submit starts (the launcher too): no hsperfdata
    # files and no temp files outside the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir.tmp}"
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_LEVEL", None)


def start_session(run_dir: RunDir, event_log: bool = False):
    from datamatch_spark.session import get_spark

    n = host_cores()
    mem = driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{mem}m",
        "spark.local.dir": str(run_dir.local),
        "spark.sql.warehouse.dir": str(run_dir.path / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = run_dir.events.as_uri()
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(
        master=f"local[{n}]",
        app_name="perfbench",
        shuffle_partitions=n,
        extra_conf=conf,
    )


def session_start_s(spark, run_dir: RunDir, event_log: bool = False) -> tuple:
    """Stop ``spark`` (keeping its JVM) and start a new session; returns
    the new session and the wall time until it answers a first query."""
    stop_session(spark, keep_jvm=True)
    t0 = time.perf_counter()
    spark = start_session(run_dir, event_log)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark, keep_jvm: bool = False) -> None:
    """Stop the session. Unless ``keep_jvm``, also stop its JVM and wait
    until it (with the Python workers it started) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# calibration_s() on a quiet 4-vCPU Xeon host; a run's wall is scaled by
# CALIBRATION_REF_S / (the mean of the calibrations around it), so times
# read in seconds of that host whatever the neighbours on a shared host do
CALIBRATION_REF_S = 0.40


def calibration_s(spark) -> float:
    """Wall time of a fixed PySpark RDD job: Python workers on every
    core, pickling and the JVM scheduler, as in a benchmark run, but no
    SQL, Arrow or package code, so no change to the package moves it."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sc.parallelize(range(400_000), host_cores()).map(
        lambda x: hash(str(x * 7919)) % 97
    ).sum()
    return time.perf_counter() - t0


def persistent_rdd_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def clear_cached_rdds(spark, keep: set) -> None:
    """Drop the RDD blocks ``localCheckpoint`` leaves cached, except the
    input tables in ``keep``, then collect the JVM heap, so one run's
    storage and garbage do not become the next run's GC pressure (or
    its resident memory)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in set(rdds) - keep:
        rdds[rdd_id].unpersist(True)
    spark.sparkContext._jvm.System.gc()


def tree_pids(root_pid: int) -> list:
    """``root_pid`` and all its descendants, from the kernel's
    per-thread ``children`` lists."""
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (driver
    Python, the JVM, Spark's Python workers), read from ``/proc``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread tracking the peak resident memory of this
    process tree inside its ``with`` block."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
