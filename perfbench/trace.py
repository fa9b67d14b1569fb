"""In-memory spans opened by the benchmark around calls into the program's
layers. Spans carry a name, start, end, parent and the run id shared by every
span of one workload run; they are written out once, when the run ends.

A disabled tracer hands out a no-op span, so the untraced run pays nothing
but the ``with`` statement."""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def cost_per_span(n: int = 2000) -> float:
        """Seconds one nested span open + close costs."""
        t = Tracer("probe", True)
        t0 = time.perf_counter()
        with t.span("outer"):
            for _ in range(n):
                with t.span("inner"):
                    pass
        return (time.perf_counter() - t0) / (n + 1)

    def record(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> Span:
        """Add a span measured elsewhere (a streaming phase from a progress
        event, converted to this tracer's clock by the caller)."""
        s = Span(len(self.spans), name, parent.id if parent else None, start, end, attrs)
        self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.id] = s.dur - covered
        return out

    def by_name(self) -> dict[str, dict]:
        """Total and self seconds and count per span name."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s.dur
            agg["self_s"] += selfs[s.id]
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        doc = {
            "run_id": self.run_id,
            "spans": [dict(asdict(s), run_id=self.run_id, self_s=selfs[s.id]) for s in self.spans],
            "by_name": self.by_name(),
            **extra,
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, default=str)
