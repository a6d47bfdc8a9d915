"""In-memory spans recorded around the benchmark's calls into the engine.

Spans live in the benchmark, not in the engine: each wraps one public call
(or a phase) and records name, start, end, parent span and a request id.
A span opened with ``jobs=True`` (never nested in another such span) also
tags the Spark jobs started inside it with its own job group and counts
them through ``statusTracker()``. Jobs submitted from threads the engine
starts itself carry no group, so those are counted as the ungrouped jobs
that appeared during the span.

With ``enabled=False`` every span is a no-op, so the untraced run pays
nothing for it."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float = 0.0
    end: float = 0.0
    jobs: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end) for s in spans
    }


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, request: str | None = None, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, request)
        self.spans.append(sp)
        self._stack.append(sp)
        if jobs:
            group = f"{GROUP_PREFIX}{sp.id}"
            before = self._ungrouped()
            self.sc.setJobGroup(group, name)
        self.bookkeeping_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t = time.perf_counter()
            if jobs:
                grouped = self.sc.statusTracker().getJobIdsForGroup(group)
                sp.jobs = len(grouped) + len(self._ungrouped() - before)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        """Write every span with its self time, plus per-name totals."""
        st = self_times(self.spans)
        by_name: dict[str, dict] = {}
        for s in self.spans:
            agg = by_name.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
            agg["count"] += 1
            agg["total_s"] += s.dur
            agg["self_s"] += st[s.id]
            agg["jobs"] += s.jobs or 0
        with open(path, "w") as f:
            json.dump({
                "by_name": by_name,
                "spans": [{**asdict(s), "self_s": st[s.id]} for s in self.spans],
                "bookkeeping_s": self.bookkeeping_s,
            }, f, indent=1)
