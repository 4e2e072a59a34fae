"""In-memory spans recorded around calls into the engine's layers.

A span is (name, start, end, parent, run id).  Spans live in memory
while the benchmark runs and are written as JSON lines when it ends.
A layer's self time is its span's duration minus the part of that
interval covered by its child spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Records nested spans; `enabled=False` makes every call a no-op so
    untraced runs pay nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run: str):
        """Context manager yielding the new span's id (None when off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, run)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None,
            run: str) -> int:
        """Record a finished span whose bounds were measured elsewhere
        (for example a phase reported by the program itself)."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, run))
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Seconds one span enter/exit pair costs, timed on a scratch tracer."""
    tr = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("calibrate", "calibrate"):
            pass
    return (time.perf_counter() - t0) / n


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children[s.id], s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Sum of self times per span name."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)
