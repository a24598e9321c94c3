"""In-memory span tracer for the benchmark's traced runs.

A span records a layer name, its start and end, and the span that caused
it.  While a span is open its layer name is the Spark job group, so the
status-store counters of every job it launches land on that layer
(:mod:`perfbench.sparkstats`).  Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None


class Tracer:
    """``Tracer(sc)`` records spans and tags Spark jobs with their layer;
    ``Tracer(None, enabled=False)`` is a no-op for untraced runs."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name,
                 None if parent is None else parent.span_id,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.name if parent else None)

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            # a null local property removes it
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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
    """Per layer name: summed span durations minus the part of each span's
    interval that its direct children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.span_id, [])]
        own = (s.end - s.start) - _covered([k for k in kids if k[1] > k[0]])
        out[s.name] = out.get(s.name, 0.0) + own
    return out

