"""In-memory spans recorded by the benchmark around its calls into each
layer of the engine, written out once at exit."""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str  # layer name: parser, translator, plan, exec, ...
    trace: str  # one id per benchmark operation
    start: float  # seconds, perf_counter clock
    end: float
    parent: int | None


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one
    branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, trace or (parent.trace if parent else ""),
                 time.perf_counter(), 0.0, parent.id if parent else None)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured elsewhere (micro-batch phases rebuilt
        from streaming progress), as a child of ``parent``."""
        s = Span(next(self._ids), name, parent.trace, start, end, parent.id)
        if self.enabled:
            self.spans.append(s)
        return s

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per span name: each span's duration minus the
    part of its interval that its children cover (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out
