"""Arithmetic of the benchmark report: the tail rule, error rate, span self
time, and an in-memory span recorder.

Everything here is pure Python with no Spark import, so the self-tests in
``test_perfbench.py`` run in a second.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field
from statistics import median

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(values: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it, by nearest rank.

    Returns ``(value, percentile, n_samples)``. The nearest-rank value of
    percentile ``p`` is the ``ceil(p*n/100)``-th smallest sample, which
    leaves ``n - ceil(p*n/100)`` samples above it; the largest ``p`` that
    keeps that count at ``TAIL_MIN_BEYOND`` or more is
    ``floor(100*(n-TAIL_MIN_BEYOND)/n)``. With ``TAIL_MIN_BEYOND`` samples
    or fewer no percentile qualifies and the median is reported as p50.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no values")
    s = sorted(values)
    if n <= TAIL_MIN_BEYOND:
        return median(s), 50, n
    p = (100 * (n - TAIL_MIN_BEYOND)) // n
    rank = max(1, math.ceil(p * n / 100))
    return s[rank - 1], p, n


def error_rate(attempted: int, failed: int) -> float:
    """Failed query calls over attempted query calls (every pass counts)."""
    if attempted <= 0:
        raise ValueError("error rate needs at least one attempt")
    return failed / attempted


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span length minus the part of it that child spans cover."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """Spans held in memory and written out once, at exit.

    With ``enabled=False`` the recorder still hands out spans (the harness
    times its phases through them either way) but the caller skips the
    counter collection that makes a run traced.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None, start: float | None = None, **attrs) -> Span:
        span = Span(
            id=len(self.spans),
            parent=None if parent is None else parent.id,
            name=name,
            start=time.perf_counter() if start is None else start,
            attrs=dict(attrs),
        )
        self.spans.append(span)
        return span

    @staticmethod
    def close(span: Span) -> Span:
        span.end = time.perf_counter()
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            rows.append({
                "id": s.id, "parent": s.parent, "name": s.name,
                "start": s.start, "end": s.end,
                "self_s": self_time(s, self.children(s)),
                **s.attrs,
            })
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)
