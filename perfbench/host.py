"""Host evidence and memory sampling.

Host weather (hypervisor steal, memory bandwidth) is recorded as
evidence beside each timed repetition, never as a metric.  The
bandwidth probe runs only before a repetition: a probe taken right
after one measures the job's own aftermath, not the host.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * (d[7] if len(d) > 7 else 0) / (sum(d) or 1)


def membw_probe(n_mb: int = 64) -> float:
    """Seconds for two copies of an n_mb buffer in this process."""
    buf = bytes(n_mb * 1024 * 1024)
    t0 = time.perf_counter()
    y = bytes(bytearray(buf))
    del y
    return time.perf_counter() - t0


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


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size summed over every descendant of `root` (the
    Spark JVM and its Python workers), excluding `root` itself.  PSS, not
    RSS: the Python workers are forked from one daemon, and summing
    their RSS counts the pages they share once per worker."""
    kids = _children()
    total, stack = 0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, []))
    return total / 1024.0


class MemSampler:
    """Background thread recording the peak of `tree_pss_mb(os.getpid())`."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
