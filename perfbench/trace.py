"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent span and the trace id of the
pass it belongs to. Spans stay in memory and are written out as JSON lines
when the benchmark ends. A span's self time is its duration minus the
durations of its child spans.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.trace_id = ""

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, self.trace_id, next(self._ids), parent, time.perf_counter(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def in_trace(self, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus its children's durations. Spans nest on one
    stack, so children never overlap."""
    out = {s.span_id: s.duration for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


def check_links(spans: list[Span]) -> None:
    """Every parent link points at a span of the same trace that encloses
    the child; raises ValueError otherwise."""
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None or p.trace_id != s.trace_id or not (p.start <= s.start <= s.end <= p.end):
            raise ValueError(f"span {s.name}#{s.span_id} has a broken parent link")
