"""Self-tests for the benchmark's own arithmetic.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from stats import (  # noqa: E402
    Span,
    failure_share,
    percentile,
    self_time,
    tail_percentile,
    union_length,
)


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 100.0
    assert percentile(xs, 50) == pytest.approx(50.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(200)]
    q, v, n = tail_percentile(xs, 95)
    assert (q, n) == (95, 200)
    assert sum(1 for x in xs if x > v) >= 10


def test_tail_percentile_lowers_when_samples_are_few():
    xs = [float(i) for i in range(100)]
    q, v, n = tail_percentile(xs, 95)
    assert q == pytest.approx(90.0)
    assert n == 100
    assert sum(1 for x in xs if x > v) >= 10


def test_tail_percentile_falls_back_to_median():
    q, v, n = tail_percentile([1.0, 2.0, 3.0], 95)
    assert (q, v, n) == (50.0, 2.0, 3)


def test_failure_share_counts_every_kind():
    assert failure_share(100, 1, 2, 3, 4) == pytest.approx(0.10)
    assert failure_share(10, 0, 0, 0, 0) == 0.0
    with pytest.raises(ValueError):
        failure_share(0, 0, 0, 0, 0)
    with pytest.raises(ValueError):
        failure_share(3, 2, 2, 0, 0)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([(5, 6)], 0, 1) == 0


def test_span_self_time_subtracts_covered_children():
    spans = [
        Span("call", 0.0, 10.0, call_id=1),
        Span("job", 1.0, 4.0, call_id=1, parent=0),
        Span("job", 3.0, 5.0, call_id=1, parent=0),
        Span("job", 9.0, 12.0, call_id=1, parent=0),  # overruns the parent
        Span("grandchild", 1.0, 2.0, call_id=1, parent=1),
    ]
    assert self_time(spans, 0) == pytest.approx(10 - 4 - 1)
    assert self_time(spans, 1) == pytest.approx(2.0)
