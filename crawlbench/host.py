"""Host facts and process-tree accounting from ``/proc`` (Linux).

The engine runs in three kinds of process: the benchmark's own Python
process, the Spark JVM it launches, and the Python workers the JVM
forks. CPU time is summed over the whole tree, less the CPU the
monitor itself spends sampling it; resident memory over the JVM (RSS)
and its workers (PSS, since the forked workers share copy-on-write
pages). Every process seen in the tree is remembered, so the benchmark
can wait for all of them to end before it exits.
"""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return raw[raw.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    fields = _stat(os.getpid())
    start_ticks = int(fields[19])  # field 22: starttime, ticks since boot
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, found by the parent links of
    every process in /proc (kernels built without CONFIG_PROC_CHILDREN
    have no per-task ``children`` lists to walk instead). The scan's
    CPU is kept out of the measured tree CPU by :class:`TreeMonitor`."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat(int(d))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def rss_bytes(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * PAGE
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page counts 1/n in each of
    the n processes that map it."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


class TreeMonitor:
    """Samples the process tree below this process on a thread.

    ``window()`` starts a measurement window; ``close_window()`` returns
    its CPU seconds (whole tree, less the sampling's own CPU) and peak
    resident bytes of the tree without this process: in total, of the
    JVM (this process's direct children, RSS) alone, and of the Python
    workers (everything below the JVM, PSS) alone. Every pid ever seen
    is kept for :meth:`reap`."""

    def __init__(self, interval: float = 0.2):
        self.me = os.getpid()
        self.interval = interval
        self.seen: dict[int, str] = {}
        self._peak = (0, 0, 0)
        self._own_cpu = 0.0  # CPU seconds spent in _sample, any thread
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> list[int]:
        t0 = time.thread_time()
        kids = descendants(self.me)
        jvm = workers = 0
        for pid in kids:
            f = _stat(pid)
            if f is None:
                continue
            self.seen.setdefault(pid, f[19])  # start time tells pid reuse apart
            if int(f[1]) == self.me:
                jvm += rss_bytes(pid)
            else:
                workers += pss_bytes(pid)
        with self._lock:
            self._peak = tuple(map(max, self._peak, (jvm + workers, jvm, workers)))
            self._own_cpu += time.thread_time() - t0
        return kids

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def window(self) -> float:
        """Open a window; returns the tree's CPU seconds so far, net of
        the sampling's own."""
        with self._lock:
            self._peak = (0, 0, 0)
        kids = self._sample()
        with self._lock:
            own = self._own_cpu
        return cpu_seconds([self.me, *kids]) - own

    def close_window(self, cpu_at_open: float) -> tuple[float, tuple[int, int, int]]:
        kids = self._sample()
        with self._lock:
            peak, own = self._peak, self._own_cpu
        return cpu_seconds([self.me, *kids]) - own - cpu_at_open, peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reap(self, timeout: float = 30.0) -> list[int]:
        """Wait until every process ever seen below this one has ended,
        signalling stragglers; returns the pids that had to be killed."""
        self._sample()
        killed = []
        deadline = time.time() + timeout
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            alive = [p for p, st in self.seen.items() if _alive(p, st)]
            if not alive:
                break
            for p in alive:
                if sig is not None:
                    try:
                        os.kill(p, sig)
                        killed.append(p)
                    except ProcessLookupError:
                        pass
            while time.time() < deadline and any(_alive(p, self.seen[p]) for p in alive):
                time.sleep(0.05)
            deadline = time.time() + 5
        return sorted(set(killed))


def _alive(pid: int, start: str) -> bool:
    f = _stat(pid)
    return f is not None and f[19] == start and f[0] != "Z"


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _meminfo_mb(key: str) -> int | None:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1]) // 1024
    return None


def engine_digest(root: Path) -> str:
    """sha256 over the engine's Python sources, path-sorted."""
    h = hashlib.sha256()
    for p in sorted((root / "python_crawler_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    """The checkout's commit, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]) != root.resolve():
        return None
    return lines[1]


def _cpu_model() -> str:
    for line in Path("/proc/cpuinfo").read_text().splitlines():
        if line.startswith("model name"):
            return line.split(":", 1)[1].strip()
    return platform.machine()


def facts(spark, root: Path) -> dict:
    """Host and code identity recorded with every result."""
    import pyspark

    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "usable_cores": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "cpu_model": _cpu_model(),
        "mem_total_mb": _meminfo_mb("MemTotal"),
        "mem_available_mb": _meminfo_mb("MemAvailable"),
        "spark_master": spark.sparkContext.master,
        "spark_cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "heap": conf.get("spark.driver.memory", "default"),
        "heap_max_mb": int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
        // 2**20,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(root),
        "engine_sha256": engine_digest(root),
    }
