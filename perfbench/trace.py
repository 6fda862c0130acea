"""Spans around the library calls the benchmark makes.

A span records its name, start, end, parent and the request it belongs to.
Spans stay in memory and are written out when the run ends. With tracing
on, each span also tags the Spark jobs it launches with a job group of its
own (``r<request>.s<span>.<name>``), so the event log can be joined back to
the span. With tracing off, ``span`` only yields: no clock reads, no job
groups.

Span names are ``<layer>.<call>`` for a public call (its plan build plus
any eager work the call does) and ``<layer>.<call>.action`` for the action
that materialises a call's result. The layer is the library's module name
(``sources``, ``operators``, ``models``, ``pipeline``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    request: int
    name: str
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def is_action(self) -> bool:
        return self.name.endswith(".action")

    @property
    def group(self) -> str:
        return f"r{self.request}.s{self.id}.{self.name}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, set_group=None):
        self.enabled = enabled
        self._set_group = set_group
        self.spans: list[Span] = []
        self.request_walls: dict[int, tuple[float, float]] = {}
        self._stack: list[Span] = []
        self._request = -1

    @contextmanager
    def request(self):
        """One client request; its spans share the request id."""
        self._request += 1
        if not self.enabled:
            yield self._request
            return
        t0 = time.perf_counter()
        try:
            yield self._request
        finally:
            self.request_walls[self._request] = (t0, time.perf_counter())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None,
                 self._request, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self._set_group:
            self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._set_group:
                self._set_group(parent.group if parent else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [asdict(s) for s in self.spans],
                "requests": {str(k): v for k, v in self.request_walls.items()},
            }, f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - covered(
            [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])
             if min(b, s.end) > max(a, s.start)]
        )
        for s in spans
    }


def coverage(spans: list[Span], walls: dict[int, tuple[float, float]]) -> float:
    """Smallest share, over requests, of a request's wall time covered by
    its top-level spans."""
    worst = 1.0
    for req, (t0, t1) in walls.items():
        top = [(s.start, s.end) for s in spans
               if s.request == req and s.parent is None]
        if t1 > t0:
            worst = min(worst, covered(top) / (t1 - t0))
    return worst
