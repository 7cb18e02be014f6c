"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end, parent span and run id. Spans stay in
memory and are written out once, when the run ends. A disabled tracer
hands out one shared no-op span, so the untraced runs pay a method call
per span and nothing else.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict


class _Span:
    __slots__ = ("tracer", "name", "id", "parent", "start", "end")

    def __init__(self, tracer: "Tracer", name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> "_Span":
        t = self.tracer
        self.id = len(t.spans)
        self.parent = t._stack[-1] if t._stack else None
        t.spans.append(self)
        t._stack.append(self.id)
        self.start = time.perf_counter_ns()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter_ns()
        self.tracer._stack.pop()


class _NoSpan:
    def __enter__(self) -> "_NoSpan":
        return self

    def __exit__(self, *exc) -> None:
        pass


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NO_SPAN

    def self_times_s(self) -> dict:
        """Seconds per span name: each span's duration minus the part of
        it that its children cover (children run one after another on
        this thread, so their intervals do not overlap)."""
        child_ns: dict = defaultdict(int)
        for s in self.spans:
            if s.parent is not None:
                child_ns[s.parent] += s.end - s.start
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start - child_ns[s.id]) / 1e9
        return dict(out)

    def dump(self, path: str) -> None:
        rows = [
            {
                "run_id": self.run_id,
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_ns": s.start,
                "end_ns": s.end,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)
