"""Process-tree CPU and memory, and the host stamp, read from /proc.

The program under test is three kinds of process: this Python driver,
the JVM it launches, and the JVM's Python workers.  CPU is summed over
the whole tree, because work moves between them (a pandas UDF runs in a
worker, a parquet write in the JVM).
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:                  # the process has exited
        return None
    # comm may hold spaces or parens: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the live tree, plus what each live
    process has reaped from exited children (so short-lived workers
    are counted once, by their parent)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:            # fields 14-17 of stat, 0-based here
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21])      # rss, in pages
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the tree's resident set every ``period`` seconds on a
    daemon thread and keeps the peak.  Use as a context manager."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def dir_mb(path: str) -> float:
    """On-disk bytes under ``path``, each inode once (hardlinked
    partitions shared by retained versions are not double counted)."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_blocks * 512
    return total / 2**20


def idle_probe() -> dict:
    """A fixed single-threaded Python loop: its wall over its CPU time
    reads how much the host took from this process, and its wall alone
    how fast one core is right now."""
    t0, c0 = time.perf_counter(), time.thread_time()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    wall, cpu = time.perf_counter() - t0, time.thread_time() - c0
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"loop_wall_s": round(wall, 4), "loop_cpu_s": round(cpu, 4),
            "wall_over_cpu": round(wall / max(cpu, 1e-9), 3),
            "loadavg": load}


def host_stamp() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = round(int(v.split()[0]) / 2**20, 2)   # GiB
    return {"nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "mem_total_gib": mem.get("MemTotal"),
            "mem_available_gib": mem.get("MemAvailable"),
            "python": platform.python_version()}
