"""Pure helpers shared by the benchmark runner and its self-tests: the
percentile-with-enough-tail rule, failure accounting, interval unions and
span self-time.  No Spark, no DuckDB — importable anywhere."""

from __future__ import annotations

import math
from dataclasses import dataclass

#: a reported percentile must leave at least this many samples above it
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (0 <= q <= 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], want: float) -> tuple[float, float, int]:
    """The highest percentile <= ``want`` that still has TAIL_SAMPLES samples
    beyond it, as (percentile used, value, sample count).  With fewer than
    TAIL_SAMPLES + 1 samples no percentile qualifies; the median is returned
    and the caller sees the low percentile in the report."""
    n = len(values)
    if n == 0:
        raise ValueError("tail_percentile of no samples")
    q = want
    if n > TAIL_SAMPLES:
        q = min(want, 100.0 * (n - TAIL_SAMPLES) / n)
    else:
        q = min(want, 50.0)
    return q, percentile(values, q), n


def failure_share(attempted: int, wrong: int, errored: int, unfinished: int, unstarted: int) -> float:
    """Failed calls over attempted calls.  A wrong answer, an exception, a
    call still running at the deadline and a planned call never started all
    count as failed; ``attempted`` must already include the unstarted ones."""
    if attempted < 1:
        raise ValueError("no call attempted")
    failed = wrong + errored + unfinished + unstarted
    if failed > attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def union_length(intervals: list[tuple[float, float]], lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    call_id: int
    parent: int | None = None  # index of the parent span in the same list

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], index: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    me = spans[index]
    kids = [(s.start, s.end) for s in spans if s.parent == index]
    return me.duration - union_length(kids, me.start, me.end)
