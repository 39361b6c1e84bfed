"""Host facts every run record carries, and the process-tree RSS sampler.

A run is tagged with the cores it may use, physical memory, the driver heap
the benchmark passes to Spark, a memcpy bandwidth probe taken before the
workload runs, and the share of CPU time stolen by other guests while it
ran, so a slow host window can be told apart from a regression.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def usable_cores() -> int:
    """Cores this process may run on; the benchmark never runs more."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    """A quarter of physical memory, between 1 and 8 GiB. In local mode the
    driver heap is the whole JVM heap, and the Python workers and the page
    cache need the rest; the program's 48g default is OOM-killed on small
    hosts."""
    return max(1024, min(8192, mem_mb // 4))


def memcpy_probe_gbs(size_mb: int = 256, reps: int = 3) -> float:
    """Copy bandwidth in GB/s (read + write counted)."""
    a = np.ones(size_mb * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault the pages in outside the timed copies
    t0 = time.perf_counter()
    for _ in range(reps):
        np.copyto(b, a)
    dt = time.perf_counter() - t0
    return 2 * reps * size_mb / 1024 / dt


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of every CPU since boot. Steal is time the
    hypervisor gave to other guests while this one had work: a slow run
    with high steal was a busy host, not slow code."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user
    return sum(vals[:8]), vals[7]


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total else 0.0


def host_tags(heap_mb: int) -> dict:
    return {
        "nproc": usable_cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": heap_mb,
        "memcpy_gbs": memcpy_probe_gbs(),
    }


def _children_by_parent() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name may hold spaces and parens: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_by_parent()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(pid: int) -> float:
    return sum(_rss_kb(p) for p in [pid, *descendants(pid)]) / 1024.0


class PeakRss:
    """Samples the RSS of this process and all its descendants (driver JVM,
    Python workers) from one thread while the ``with`` block runs. Each
    ``cut()`` closes a segment (one pass) and records the segment's peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peaks_mb: list[float] = []
        self._current = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        pid = os.getpid()
        while True:
            rss = tree_rss_mb(pid)
            with self._lock:
                self._current = max(self._current, rss)
            if self._stop.wait(self.interval_s):
                return

    def cut(self) -> None:
        rss = tree_rss_mb(os.getpid())
        with self._lock:
            self.peaks_mb.append(max(self._current, rss))
            self._current = 0.0

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_children(timeout_s: float = 60.0) -> list[int]:
    """Wait until every process this one started has ended; returns the pids
    still alive at the timeout."""
    deadline = time.time() + timeout_s
    while True:
        left = descendants(os.getpid())
        if not left or time.time() > deadline:
            return left
        time.sleep(0.2)
