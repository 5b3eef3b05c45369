"""In-memory spans around the benchmark's calls into each library layer.

A span has a name, start, end, parent and job id, plus the counters the
caller attaches (plan metrics and status-store deltas of the action the
span ran). Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._job = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._job += 1
        sp = Span(
            id=len(self.spans),
            name=name,
            job=self._job,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span wall minus the part of it that child spans cover."""
        covered = 0.0
        cursor = span.start
        for c in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.wall - covered

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["wall_s"] = s.wall
            row["self_s"] = self.self_time(s)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1, default=float)
