"""In-memory spans and the small statistics the benchmark reports."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans around layer calls; does nothing when disabled.

    Spans of one pass share the pass span as their root; a span opened
    inside another becomes its child.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sp = self.add(name, layer, time.perf_counter(), 0.0)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Span | None = None) -> Span:
        """Record a span; its parent defaults to the innermost open span."""
        if parent is None and self._open:
            parent = self._open[-1]
        sp = Span(len(self.spans), name, layer,
                  parent.id if parent else None, start, end)
        self.spans.append(sp)
        return sp

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        inside = {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in inside:
                inside.add(s.id)
        return [self.spans[i] for i in sorted(inside)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer that no child span of the same span covers."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.id, []),
                                          s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


def timing_summary(values: list[float]) -> dict[str, float]:
    """Median, maximum and sample count of ``values``."""
    return {"p50": statistics.median(values), "max": max(values),
            "n": len(values)}
