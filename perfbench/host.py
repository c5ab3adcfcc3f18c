"""Host facts and process-tree accounting, read from /proc.

Every number the benchmark prints is taken from outside the program: CPU
seconds and resident memory come from /proc for the benchmark process and
all of its descendants (the Spark driver JVM and its Python workers), and
CPU steal comes from the /proc/stat delta over the run.
"""

from __future__ import annotations

import os
import subprocess
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # comm may contain spaces; fields after the last ')' are fixed
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(rest[1]), []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """The pid of `root` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in pids if pids is not None else process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17 (utime, stime, cutime, cstime) are rest[11:15]
        total += sum(int(x) for x in rest[11:15])
    return total / _CLK_TCK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(pids: list[int] | None = None) -> dict[str, float]:
    """Resident memory of the tree by process name (java, python3, ...) and
    in total. Python processes count as PSS, so pages a forked Python worker
    shares with its parent count once. The JVM, which shares next to nothing,
    counts as RSS from /proc/<pid>/status: reading its smaps_rollup walks
    gigabytes of page tables under the JVM's mmap lock, about 15 ms a read
    at ten reads a second, which can stall the JVM it measures."""
    out: dict[str, float] = {"total": 0.0}
    for pid in pids if pids is not None else process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            mb = (_rss_kb(pid) if name == "java" else _pss_kb(pid)) / 1024
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + mb
        out["total"] += mb
    return out


class RssSampler:
    """Samples the tree's RSS on a thread; `peak_mb` is the highest sample
    and `peak_by_name` its split by process name.

    Use as a context manager around one measured iteration."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_mb()
        if rss["total"] > self.peak_mb:
            self.peak_mb = rss["total"]
            self.peak_by_name = rss

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_times() -> list[int]:
    """Aggregate jiffies from the `cpu` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time over the interval that the hypervisor stole."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def host_facts(cores: int) -> dict:
    """Facts every result carries: cores used, load and library versions."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": cores,
        "loadavg_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "java": _java_version(),
    }
