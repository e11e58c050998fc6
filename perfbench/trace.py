"""Spans recorded by the benchmark's own wrappers around layer calls.

A span is (name, start, end, parent, run id). Spans are kept in memory
and written out once, when the run ends. With tracing off, `span` is a
no-op context manager, so the untraced run pays one attribute check per
call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children never overlap: one thread records)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (
                    s.end - s.start
                )
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (
                s.end - s.start - child_time.get(s.id, 0.0)
            )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
