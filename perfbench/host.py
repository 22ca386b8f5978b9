"""Host-state probes: warm-memcpy bandwidth, IO stall and CPU steal
counters, and process-tree RSS."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


class MemcpyProbe:
    """Warm-memcpy bandwidth in GB/s, the method of ``bench.py::_memcpy_probe``:
    two 0.25 GB buffers faulted in once, best of two copies. This host has
    memory-stall storms that slow every job several-fold; the probe is the
    signal that tracks them."""

    def __init__(self) -> None:
        self._a = np.ones(1 << 28, np.uint8)
        self._b = np.empty_like(self._a)
        np.copyto(self._b, self._a)  # fault both buffers

    def __call__(self) -> float:
        t = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            np.copyto(self._b, self._a)
            t = min(t, time.perf_counter() - t0)
        return 0.25 / t


def stall_counters() -> tuple[float, float]:
    """(seconds in which some task waited on IO, from /proc/pressure/io;
    seconds of CPU time the hypervisor stole, summed over CPUs, from
    /proc/stat). Both count up from boot; either is 0 where the kernel
    does not provide it. The difference across a job says whether a slow
    job waited on the disk or lost its CPUs to the host."""
    io = steal = 0.0
    try:
        with open("/proc/pressure/io") as f:
            io = int(f.readline().rsplit("total=", 1)[1]) / 1e6
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    return io, steal


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants_rss() -> tuple[int, int]:
    """→ (RSS of the Spark JVM, this process's child; summed RSS of every
    Python process below it, daemon and workers). The benchmark's own
    interpreter, which holds the probe buffers, is left out, and so is any
    other process below the JVM: a child it forks to spawn a program is a
    momentary copy of the whole JVM and would count its heap twice."""
    kids = _children()
    jvm_rss = workers = 0
    for jvm in kids.get(os.getpid(), []):
        jvm_rss += _rss_bytes(jvm)
        todo = list(kids.get(jvm, []))
        while todo:
            pid = todo.pop()
            if _comm(pid).startswith("python"):
                workers += _rss_bytes(pid)
                todo.extend(kids.get(pid, []))
    return jvm_rss, workers


class PeakRss:
    """Samples ``descendants_rss`` every 250 ms on a thread while active;
    ``jvm`` and ``workers`` are the highest values seen of each. Each sample
    walks /proc under the GIL of the process that drives Spark, so it is
    kept sparse."""

    INTERVAL = 0.25

    def __init__(self) -> None:
        self.jvm = self.workers = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL)

    def _sample(self) -> None:
        jvm, workers = descendants_rss()
        self.jvm, self.workers = max(self.jvm, jvm), max(self.workers, workers)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
