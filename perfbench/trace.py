"""Spans around the benchmark's calls into each layer.

A span is (id, name, start, end, parent).  Spans live in memory and are
written once, when the run ends.  While a span is open, Spark jobs started
from the driver thread carry the span id as their job group, so the stage
records of each call can be found afterwards (``sparkstats``); those stages
are added as child spans named ``<layer>.stage``.

Self time is exclusive: every instant of a repetition is charged to the
deepest span open at that instant (the latest started among equals), so
the self times of one repetition add up to its wall time even when stages
overlap.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rep: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.sc = None  # the SparkContext of the traced repetition
        self.rep = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(next(self._ids), name, time.time(), 0.0,
                  self._stack[-1].id if self._stack else None, self.rep)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self.sc is not None:
                parent = self._stack[-1] if self._stack else None
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", f"span-{parent.id}" if parent else None
                )

    def get(self, span_id: int) -> Span:
        return next(s for s in self.spans if s.id == span_id)

    def duration(self, span_id: int) -> float:
        sp = self.get(span_id)
        return sp.end - sp.start

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        self.spans.append(Span(next(self._ids), name, start, end, parent, self.rep))

    def self_times(self, rep: int) -> dict[str, float]:
        spans = [s for s in self.spans if s.rep == rep]
        by_id = {s.id: s for s in spans}

        def depth(s: Span) -> int:
            d = 0
            while s.parent in by_id:
                s, d = by_id[s.parent], d + 1
            return d

        depths = {s.id: depth(s) for s in spans}
        cuts = sorted({t for s in spans for t in (s.start, s.end)})
        out: dict[str, float] = defaultdict(float)
        for lo, hi in zip(cuts, cuts[1:]):
            live = [s for s in spans if s.start <= lo and s.end >= hi]
            if live:
                owner = max(live, key=lambda s: (depths[s.id], s.start))
                out[owner.name] += hi - lo
        return dict(out)

    def write(self, path: str, summary: dict) -> None:
        reps = sorted({s.rep for s in self.spans})
        doc = {
            "summary": summary,
            "self_times": {str(r): self.self_times(r) for r in reps},
            "spans": [asdict(s) for s in sorted(self.spans, key=lambda s: (s.start, s.id))],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
