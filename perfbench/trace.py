"""In-memory spans recorded around calls into the program's layers.

A span is (trace id, span id, parent span id, name, start, end).  Spans of
one operation share its trace id; nesting follows the ``with`` blocks.
Nothing is written until ``dump`` runs at the end of the benchmark.  A
disabled tracer records nothing and costs one generator step per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    trace_id: int
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_trace = 0
        self.record_s = 0.0  # time spent inside the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_trace += 1
        s = Span(
            trace_id=parent.trace_id if parent else self._next_trace,
            span_id=len(self.spans),
            parent_id=parent.span_id if parent else None,
            name=name,
            start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.record_s += s.start - t0
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.record_s += time.perf_counter() - s.end

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
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
    """Per span name: Σ (duration − the part covered by direct children)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(s.start, s.end, children.get(s.span_id, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out
