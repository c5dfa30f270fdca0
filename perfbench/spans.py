"""In-memory spans recorded by the benchmark around calls into the engine.

A span has a name, start, end, parent and unit id. Spans stay in memory and
are written out once, when the run ends. With tracing off, ``Tracer.span``
still times its block (the workloads need the durations) but keeps nothing.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    unit: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.unit = ""

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            if threading.current_thread() is threading.main_thread():
                self._main = self._local.stack
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block; yields the span (its ``dur`` is set on exit)."""
        stack = self._stack()
        # a span opened on a worker thread (the model runner's pool) hangs
        # under the span that is open on the main thread
        outer = stack or getattr(self, "_main", [])
        parent = outer[-1].id if outer else None
        with self._lock:
            sp = Span(len(self.spans), name, self.unit, parent, time.perf_counter())
            if self.enabled:
                self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the time its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        )
        out[s.name] = out.get(s.name, 0.0) + s.dur - covered
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` (children may run concurrently)."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
