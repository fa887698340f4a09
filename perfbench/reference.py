"""Reference results and the checks that fail a run.

``admitted`` recomputes the pipeline's admitted set from the generated
input alone, with the semantics of the engine's batch oracle for the
streaming pipeline (``_foreach_sink_oracle``): the first occurrence of
each id survives dedup, then each user's events, ordered by (ts, id),
are admitted by the first-event-anchored limiter (the first ``limit``
events before anchor + window; the next event at or past that point
re-anchors). The generator keeps every re-sent id within the dedup
TTL of its first copy and writes events in (ts, id) order, so dedup
and limiting have one unambiguous answer.

Every check raises ``CheckFailed``; the runner turns that into a run
with ``correct: false`` and a non-zero exit, never into a data point.
"""

from __future__ import annotations

from collections import Counter

import numpy as np


class CheckFailed(AssertionError):
    """A correctness check of the benchmark failed."""


def wire_ts_us(t0_ms: int, ts_ms: np.ndarray) -> np.ndarray:
    """Event time in µs as the engine derives it from the wire's float
    seconds: timestamp_seconds multiplies by 1e6 and truncates."""
    secs = (t0_ms + ts_ms.astype("int64")) / 1000.0
    return np.trunc(secs * 1e6).astype("int64")


def admitted(
    ids: np.ndarray,
    users: np.ndarray,
    ts_us: np.ndarray,
    limit: int = 5,
    window_s: int = 60,
) -> set[int]:
    """Ids the pipeline must admit: first-occurrence dedup, then the
    anchored per-user limiter."""
    window_us = window_s * 1_000_000
    order = np.lexsort((ids, ts_us))
    seen: set[int] = set()
    anchor: dict[int, int] = {}
    count: dict[int, int] = {}
    out: set[int] = set()
    for i in order:
        eid = int(ids[i])
        if eid in seen:
            continue
        seen.add(eid)
        u, t = int(users[i]), int(ts_us[i])
        a = anchor.get(u)
        if a is None or t >= a + window_us:
            anchor[u] = t
            count[u] = 0
        if count[u] < limit:
            count[u] += 1
            out.add(eid)
    return out


def check_nonempty(what: str, n: int) -> None:
    if n <= 0:
        raise CheckFailed(f"{what}: zero events — a run without work is an error")


def check_same_ids(what: str, got: list[int], want: set[int]) -> None:
    """``got`` must hold each id of ``want`` exactly once and nothing else."""
    counts = Counter(got)
    dup = [k for k, c in counts.items() if c > 1]
    missing = want - counts.keys()
    extra = counts.keys() - want
    if dup or missing or extra:
        raise CheckFailed(
            f"{what}: {len(missing)} missing, {len(extra)} unexpected, "
            f"{len(dup)} duplicated of {len(want)} expected "
            f"(e.g. missing {sorted(missing)[:3]}, unexpected "
            f"{sorted(extra)[:3]}, duplicated {sorted(dup)[:3]})"
        )


def delivery_failures(got: list[int], want: set[int]) -> int:
    """Expected ids not delivered exactly once, plus unexpected ones."""
    counts = Counter(got)
    bad = sum(1 for k in want if counts.get(k, 0) != 1)
    return bad + sum(1 for k in counts if k not in want)

