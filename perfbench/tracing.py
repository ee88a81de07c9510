"""Spans recorded around the benchmark's calls into ``denrl_spark``.

A span is (id, name, start, end, parent, run id), kept in memory and
written out once at the end of a traced run. Timestamps are wall-clock
epoch seconds so they line up with the Spark event log's millisecond
timestamps. Once ``sc`` is set (the traced session of a traced run)
every span also becomes the Spark job group
of the jobs submitted inside it (``setJobGroup(span id, span path)``),
which is how the stage report attributes jobs to layers.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext receiving job groups (traced sessions only)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, time.time(), 0.0,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self._set_group(self._stack[-1])

    def _set_group(self, s: Span) -> None:
        if self.sc is not None and self.sc._jsc is not None:
            self.sc.setJobGroup(s.id, self.path(s))

    def path(self, s: Span) -> str:
        by_id = {x.id: x for x in self.spans}
        parts = [s.name]
        while s.parent is not None:
            s = by_id[s.parent]
            parts.append(s.name)
        return "/".join(reversed(parts))

    def children(self, s: Span, name: str | None = None) -> list[Span]:
        return [x for x in self.spans if x.parent == s.id and (name is None or x.name == name)]

    def descendants(self, s: Span) -> set[str]:
        out, frontier = set(), {s.id}
        while frontier:
            frontier = {x.id for x in self.spans if x.parent in frontier}
            out |= frontier
        return out

    def innermost_at(self, t: float) -> Span | None:
        """Deepest span open at time ``t`` (for jobs without a group)."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) | {"path": self.path(s)} for s in self.spans], f, indent=1)
