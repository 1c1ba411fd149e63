"""Host-derived Spark session plan and process-tree accounting.

The session is sized from the machine it runs on, never from a constant:
cores from the affinity mask, JVM heap size from ``/proc/meminfo``, and
shuffle partitions from the cores. A level above the visible core count
is refused, because ``local[N]`` with N larger than the cores the
process may run on oversubscribes them and measures the scheduler.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def visible_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@dataclass(frozen=True)
class SessionPlan:
    cores: int
    driver_memory_mb: int
    shuffle_partitions: int

    @property
    def master(self) -> str:
        return f"local[{self.cores}]"


def session_plan(level: int | None = None, cores: int | None = None,
                 mem_bytes: int | None = None) -> SessionPlan:
    """Plan a ``local[level]`` session for this host.

    ``level`` defaults to every visible core; a level above them raises.
    The JVM heap is an eighth of physical memory, between 1 and 8 GiB.
    In local mode that one JVM runs the executor too; the Python workers
    and the OS need the rest.
    """
    cores = visible_cores() if cores is None else cores
    mem_bytes = mem_total_bytes() if mem_bytes is None else mem_bytes
    level = cores if level is None else level
    if level < 1:
        raise ValueError(f"level must be >= 1, got {level}")
    if level > cores:
        raise ValueError(
            f"local[{level}] asked for more cores than the {cores} visible to "
            "this process; it would oversubscribe them"
        )
    driver_mb = max(1024, min(8192, mem_bytes // 8 // (1 << 20)))
    return SessionPlan(level, driver_mb, 2 * level)


def build_session(plan: SessionPlan, work_dir: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(plan.master)
        .appName("perfbench")
        .config("spark.driver.memory", f"{plan.driver_memory_mb}m")
        .config("spark.sql.shuffle.partitions", str(plan.shuffle_partitions))
        .config("spark.default.parallelism", str(plan.shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
    )
    if event_log_dir is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and the Python workers it spawned,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_tree = tree_pids(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in jvm_tree:
        while not _exited(pid):
            if time.monotonic() > deadline:
                _kill(pid)
            time.sleep(0.05)


def become_subreaper() -> None:
    """Make orphaned descendants children of this process (Linux), so
    ``reap_all`` can wait for the Python workers the JVM leaves behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(timeout: float = 30.0) -> None:
    """Wait until every child of this process has exited and been reaped;
    kill the ones still running after ``timeout`` seconds. With
    ``become_subreaper`` in force that covers every descendant."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in tree_pids()[1:]:
                _kill(child)
        time.sleep(0.05)


def _exited(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is None or f[0] == "Z"  # gone, or exited and awaiting its reaper


def _kill(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


# ----------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """utime+stime of the live tree plus what it has reaped from children
    (cutime+cstime), so a worker that exits inside a window still counts."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


class TreeSampler:
    """Background sampler of the process tree's summed RSS.

    ``start``/``stop`` bracket a measured window; ``peak`` is the largest
    summed RSS seen in it. A process counts from its second sample on:
    the JVM forks helper commands, and a child caught between fork and
    exec shows the JVM's whole RSS again. Sampling only reads /proc, so
    its own cost is a few hundred microseconds every ``interval`` seconds.
    """

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        seen: set[tuple[int, str]] = set()
        while not self._stop.is_set():
            rss: dict[tuple[int, str], int] = {}
            for pid in tree_pids():
                f = _stat_fields(pid)
                if f is not None:
                    rss[(pid, f[19])] = int(f[21]) * _PAGE  # keyed by start time
            self.peak = max(self.peak, sum(v for k, v in rss.items() if k in seen))
            seen = set(rss)
            self.samples += 1
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            if self._thread.is_alive():
                raise RuntimeError("RSS sampler thread did not stop")
            self._thread = None


def load_marker() -> dict:
    """1-min loadavg, runnable threads and cumulative steal jiffies, so a
    window that shared the host with other work shows in the record."""
    out: dict = {"t": time.time()}
    with open("/proc/loadavg") as f:
        parts = f.read().split()
    out["load1"] = float(parts[0])
    out["procs_running"] = int(parts[3].split("/")[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    out["steal_jiffies"] = int(cpu[8]) if len(cpu) > 8 else 0
    return out
