"""Span self time and the reporting rule for timings."""

from __future__ import annotations

import pytest

from tracer import Tracer, covered, median, self_time_by_name, self_times, tail


def test_self_time_subtracts_children_once():
    tr = Tracer("t")
    root = tr.add("root", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 6.0, root)  # overlaps a: covered once
    tr.add("c", 9.0, 12.0, root)  # runs past the parent: clipped
    own = self_times(tr.spans)
    assert own[root] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0)


def test_self_time_by_name_sums_spans():
    tr = Tracer("t")
    p = tr.add("q", 0.0, 4.0)
    tr.add("q.build", 0.0, 3.0, p)
    tr.add("q", 10.0, 12.0)
    assert self_time_by_name(tr.spans) == pytest.approx({"q": 3.0, "q.build": 3.0})


def test_covered_merges_intervals():
    assert covered((0, 10), [(2, 3), (2.5, 4), (8, 20)]) == pytest.approx(4.0)
    assert covered((0, 10), []) == 0.0


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    assert tr.add("x", 0.0, 1.0) is None
    assert tr.spans == []


def test_tail_rule_keeps_ten_samples_beyond():
    assert tail(list(range(19))) is None
    assert tail(list(range(20))) == (50.0, 9)
    p, v = tail([float(i) for i in range(1, 1001)])
    assert p == 99.0 and v == 990.0
    p, v = tail([float(i) for i in range(1, 3001)])
    assert p == 99.5 and v == 2985.0
    assert 3000 - v >= 10


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert median([]) is None
