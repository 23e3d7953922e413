"""The benchmark's Spark session and process bookkeeping.

Everything a run leaves on disk lives under ``<checkout>/.perfbench``:
``cache/`` keeps generated inputs between runs, ``run/`` (Spark local
dirs, event log, pyramid outputs, temp files) is emptied at the start of
every run. The session is sized from the machine: ``local[nproc]`` and a
heap that is a quarter of the available memory, clamped to 1-3 GiB.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
WORK_DIR = REPO_ROOT / ".perfbench"
CACHE_DIR = WORK_DIR / "cache"
RUN_DIR = WORK_DIR / "run"


def cpu_count() -> int:
    """nproc: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb() -> int:
    return max(1024, min(3072, mem_available_bytes() // 4 // (1 << 20)))


def fresh_run_dir() -> Path:
    """Empty ``run/`` and point every temp location of this process (and
    of the JVM and Python workers it will start) inside it."""
    if RUN_DIR.exists():
        shutil.rmtree(RUN_DIR)
    for sub in ("local", "tmp", "eventlog", "out", "warehouse"):
        (RUN_DIR / sub).mkdir(parents=True)
    tmp = str(RUN_DIR / "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "local")
    # Python workers are forked by the JVM, which inherits this
    # environment: without the repo on their path every pandas UDF of
    # the package fails with ModuleNotFoundError when the benchmark is
    # started from outside the repo root.
    paths = [str(REPO_ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return RUN_DIR


def build_session(event_log: bool):
    from pyspark.sql import SparkSession

    cpus, heap = cpu_count(), heap_mb()
    tmp = RUN_DIR / "tmp"
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", str(RUN_DIR / "local"))
        .config("spark.sql.warehouse.dir", str(RUN_DIR / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", str(event_log).lower())
    )
    if event_log:
        b = (
            b.config("spark.eventLog.dir", str(RUN_DIR / "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _children(pid: int) -> list[int]:
    out = []
    task_dir = Path(f"/proc/{pid}/task")
    try:
        for t in task_dir.iterdir():
            kids = (t / "children").read_text().split()
            out.extend(int(k) for k in kids)
    except OSError:  # process or thread exited while we read it
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` plus all its descendants (the JVM and
    the Python workers it forked)."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_bytes(pid)
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples the resident memory of a process tree every ``period``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a JVM that ignores EOF gets killed
        proc.kill()
        proc.wait(timeout=10)


def now() -> float:
    return time.perf_counter()
