"""Host stamp, CPU calibration and process-tree accounting from /proc.

The process tree is this benchmark process and every descendant: the Spark
JVM, the Python worker daemon and its workers, and the stream generator.
CPU time of a descendant that has exited and been waited for is already in
its parent's cumulative child time, so summing utime+stime+cutime+cstime
over the live tree counts every process once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
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
    return stat[stat.rindex(")") + 2:].split()


def _cpu_ticks(pid: int) -> int:
    f = _stat_fields(pid)
    return 0 if f is None else sum(int(x) for x in f[11:15])  # utime stime cutime cstime


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU-seconds of the live tree, reaped children included."""
    return sum(_cpu_ticks(p) for p in tree_pids(root)) / _TICK


class TreeSampler:
    """Samples the tree's resident memory and CPU time on a background
    thread. Use as `with TreeSampler() as s:`; `peak_bytes()` is the peak
    resident memory and `cpu_at(t)` the tree's CPU-seconds at time t."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.samples: list[tuple[float, float, int]] = []  # (time, cpu s, rss bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = tree_pids()
        self.samples.append((time.time(), sum(_cpu_ticks(p) for p in pids) / _TICK,
                             sum(_rss_bytes(p) for p in pids)))

    def peak_bytes(self, t0: float = 0.0, t1: float = float("inf")) -> int:
        """Peak resident memory between t0 and t1 that held over two
        consecutive samples. A single-sample spike is left out: when the
        JVM forks a helper process, the child shows the JVM's whole
        resident set until it execs, which would count that memory twice."""
        rss = [s[2] for s in self.samples if t0 <= s[0] <= t1]
        return max((min(a, b) for a, b in zip(rss, rss[1:])), default=max(rss, default=0))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def cpu_at(self, t: float) -> float:
        """Linear interpolation between the samples around t."""
        before = [s for s in self.samples if s[0] <= t] or self.samples[:1]
        after = [s for s in self.samples if s[0] >= t] or self.samples[-1:]
        (t0, c0, _), (t1, c1, _) = before[-1], after[0]
        return c0 if t1 == t0 else c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def calibrate() -> dict:
    """Fixed single-threaded CPU calibration: a float64 GEMM (BLAS path)
    and a pure-Python loop (interpreter path). Same work on every run, so
    two hosts or two host days compare by these seconds."""
    import numpy as np

    a = np.full((1000, 1000), 1.0 / 3)
    t0 = time.perf_counter()
    for _ in range(3):
        a @ a
    gemm = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return {"gemm_s": round(gemm, 4), "pyloop_s": round(time.perf_counter() - t0, 4)}


def stamp() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "calibration": calibrate(),
    }
