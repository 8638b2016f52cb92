"""Shared pieces of the benchmark: paths, Spark environment, process
groups and their memory, and small statistics helpers."""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, at most 4 GiB: the service, the
    traced in-process session and their Python workers must fit side by
    side on a small box (``session.py`` alone would ask for 16g)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def spark_env() -> dict[str, str]:
    """Environment for any process that starts Spark: all cores, a
    sized driver heap, and every scratch file inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        # No hsperfdata file under /tmp: the JVM writes nowhere outside the work dir.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }


RUN_MARK = "PERFBENCH_RUN"


def mark_run() -> None:
    """Tag this process's environment with a value unique to this run.
    Every process started from here on inherits it (the service, its
    JVM, and Spark's Python workers, which leave the process group), so
    ``run_pids`` finds them wherever they end up."""
    os.environ[RUN_MARK] = f"{os.getpid()}.{time.time_ns()}"


def run_pids() -> list[int]:
    """Live processes of this run, other than this one."""
    tag = f"\0{RUN_MARK}={os.environ[RUN_MARK]}\0".encode()
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == me:
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                env = b"\0" + f.read() + b"\0"  # a zombie's reads empty
        except OSError:
            continue
        if tag in env:
            pids.append(int(d))
    return pids


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


class PeakRss:
    """Samples the summed RSS of this run's other processes until stopped."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak = interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(run_pids()))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak


def _reap_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _signal_all(sig) -> None:
    for pid in run_pids():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_run(grace: float = 20.0) -> None:
    """SIGTERM every other process of this run, SIGKILL what is left
    after ``grace`` seconds, and wait until each has ended."""
    _signal_all(signal.SIGTERM)
    deadline = time.monotonic() + grace
    while run_pids() and time.monotonic() < deadline:
        _reap_children()
        time.sleep(0.1)
    _signal_all(signal.SIGKILL)
    while run_pids():
        _reap_children()
        time.sleep(0.05)
    _reap_children()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time taken from this machine by its hypervisor since boot,
    summed over CPUs: run-to-run noise that no benchmark setting removes."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``xs``."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]
