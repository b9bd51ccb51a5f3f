"""Host sizing, the benchmark's scratch space, Spark session lifetime and
the /proc sampler.

Spark is sized from the host here and nowhere else: ``local[nproc]`` and
a driver heap of about 60% of MemTotal (with a fixed initial heap),
passed to ``get_spark`` through ``extra_conf``. Everything Spark, the JVM and Python write goes under
``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
HEAP_FRACTION = 0.6
# A fixed initial heap: without it G1 grows the heap at moments that vary
# from run to run, and peak RSS with it by a tenth or more.
INITIAL_HEAP_MB = 2048


def nproc() -> int:
    """CPUs this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(int(line.split()[1]) * HEAP_FRACTION / 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_process() -> None:
    """Import path and environment for this process and the JVM and
    Python workers it launches: the checkout's ``hipipe_spark`` first,
    every temporary file under ``WORK``."""
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = tmp


def start_session(cores: int):
    """SparkSession on ``local[cores]``; launches the JVM if none runs."""
    from hipipe_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_heap_mb()}m",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Xms{min(INITIAL_HEAP_MB, driver_heap_mb())}m -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def shutdown_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (the
    gateway JVM exits once its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_dir(tag: str) -> str:
    d = os.path.join(WORK, "runs", tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


# ---------------------------------------------------------------- /proc
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_rss_mb(root: int) -> float:
    """Summed RSS of every process below ``root`` (the driver JVM and the
    Python workers it forks), not counting ``root`` itself."""
    kids = _children_map()
    todo, total = list(kids.get(root, [])), 0.0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE_MB
        except OSError:
            continue
    return total


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Sampler:
    """Background thread sampling (time, RSS MB, 1-min load) every
    ``interval`` seconds, so each op can keep the load averages and the
    peak RSS sampled while it ran."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.samples: list[tuple[float, float, float]] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample = (time.perf_counter(), descendants_rss_mb(me), load1())
            with self._lock:
                self.samples.append(sample)
            self._stop.wait(self.interval)

    def during(self, start: float, end: float) -> tuple[list[float], float]:
        """The 1-min load averages and the peak RSS (MB) sampled while
        ``[start, end]`` ran, each with one more read taken now, so no op
        goes without."""
        with self._lock:
            inside = [s for s in self.samples if start <= s[0] <= end]
        inside.append((end, descendants_rss_mb(os.getpid()), load1()))
        return [s[2] for s in inside], max(s[1] for s in inside)
