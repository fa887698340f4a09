"""The reference admitted set and the checks that fail a run."""

from __future__ import annotations

import numpy as np
import pytest

import loadgen
import reference
from reference import CheckFailed

S = 1_000_000  # µs per second


def test_anchored_limiter_and_first_occurrence_dedup():
    ids = np.array([1, 2, 3, 4, 5, 6, 7, 8, 3, 9])
    users = np.array([7] * 8 + [7, 8])
    ts = np.array([0, 1, 2, 3, 4, 5, 59, 60, 6, 0]) * S
    got = reference.admitted(ids, users, ts, limit=5, window_s=60)
    # user 7: window [0, 60) admits the first five distinct ids (1..5);
    # 6 and 7 are over the limit, the re-sent 3 is a duplicate; 8 at
    # t=60 re-anchors. User 8 is independent.
    assert got == {1, 2, 3, 4, 5, 8, 9}


def test_ties_break_by_id():
    ids = np.array([20, 10, 30])
    users = np.array([1, 1, 1])
    ts = np.array([5, 5, 5]) * S
    assert reference.admitted(ids, users, ts, limit=2) == {10, 20}


def test_wire_ts_truncates_like_timestamp_seconds():
    due = np.array([1, 3, 999, 123_456])
    got = reference.wire_ts_us(1_790_000_000_000, due)
    for d, t in zip(due.tolist(), got.tolist()):
        secs = (1_790_000_000_000 + d) / 1000.0  # the float on the wire
        assert t == int(secs * 1e6)  # multiply, then truncate
        assert abs(t - (1_790_000_000_000 + d) * 1000) <= 1


def test_admitted_matches_a_plain_loop_on_a_generated_backlog():
    spec = loadgen.LoadSpec(seed=5, rate=200.0, users=300, dup_share=0.1)
    p = loadgen.plan(spec, 3_000)
    ts = reference.wire_ts_us(1_790_000_000_000, p.ts_ms)
    want = reference.admitted(p.ids, p.users, ts)
    rows = sorted(zip(ts.tolist(), p.ids.tolist(), p.users.tolist()))
    first = {}
    for t, i, u in rows:
        first.setdefault(i, (t, u))
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (t, u) in first.items():
        by_user.setdefault(u, []).append((t, i))
    loop = set()
    for evs in by_user.values():
        evs.sort()
        anchor, n = None, 0
        for t, i in evs:
            if anchor is None or t >= anchor + 60 * S:
                anchor, n = t, 0
            if n < 5:
                n += 1
                loop.add(i)
    assert want == loop
    assert 0 < len(want) < len(set(p.ids.tolist()))


def test_check_same_ids_passes_exact_and_fails_perturbed():
    want = {1, 2, 3}
    reference.check_same_ids("ok", [3, 1, 2], want)
    for bad in ([1, 2], [1, 2, 3, 3], [1, 2, 3, 4]):
        with pytest.raises(CheckFailed):
            reference.check_same_ids("perturbed", bad, want)


def test_delivery_failures_counts_each_bad_id():
    assert reference.delivery_failures([1, 2, 3], {1, 2, 3}) == 0
    assert reference.delivery_failures([1, 1, 2, 9], {1, 2, 3}) == 3


def test_zero_events_is_an_error():
    with pytest.raises(CheckFailed):
        reference.check_nonempty("run", 0)

