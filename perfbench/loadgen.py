"""Seeded load generator: the live load of ``notify_live`` and
pre-written backlogs (the warm-up file, the tests).

Events use the reference wire format ``{"id", "value", "user_id",
"timestamp"}`` and travel as parquet ``(key, value)`` files, each
written under a hidden name and renamed into place, so the engine's
file source never sees a partial file.

``plan`` fixes every event from the seed: its due time (ms from the
start), id, user, value and event time. Users are drawn uniformly. An
event's ``timestamp`` is its due time, the moment it was created on
the schedule; a late write therefore shows up as latency instead of
being hidden. A share of events are re-sent copies: the same id,
user, value and timestamp as an earlier event (a producer retry),
written up to ``DUP_WITHIN_S`` later, well inside the dedup TTL. A
copy is identical to its first send, so whichever of the two the
engine keeps, dedup and the limiter have one answer.

``write_backlog`` writes a whole plan as fixed-size files.
``run_live`` writes a plan on a fixed tick measured from the start,
never from the previous write, so a slow write or a slow reader
cannot slow the schedule; it reports how late each tick ran.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WIRE_SCHEMA = pa.schema([("key", pa.string()), ("value", pa.string())])
# the live writer's tick: one file every 100 ms
TICK_S = 0.1
# a re-sent copy trails its first send by at most this much; the
# pipeline's dedup TTL is 60 s
DUP_WITHIN_S = 5.0


@dataclass(frozen=True)
class LoadSpec:
    seed: int
    rate: float  # events written per second, re-sent copies included
    users: int
    dup_share: float = 0.0  # share of events that re-send an earlier id
    first_id: int = 0
    first_user: int = 0


@dataclass(frozen=True)
class Plan:
    due_ms: np.ndarray  # int64, ms from the start, ascending
    ids: np.ndarray
    users: np.ndarray
    values: np.ndarray
    ts_ms: np.ndarray  # int64 event time, ms from the start

    def __len__(self) -> int:
        return len(self.ids)


def plan(spec: LoadSpec, n: int) -> Plan:
    """The ``n`` events of ``spec``, sorted by (due_ms, id). Copies
    re-send events due at least ``DUP_WITHIN_S`` before the last one,
    so the plan ends when its first sends do."""
    rng = np.random.default_rng(spec.seed)
    n_dup = int(round(n * spec.dup_share))
    n_base = n - n_dup
    # first sends spread evenly over the n / rate seconds the plan lasts
    step_ms = 1000.0 * n / (spec.rate * n_base)
    due = np.floor(np.arange(n_base) * step_ms).astype("int64")
    ids = spec.first_id + np.arange(n_base, dtype="int64")
    users = spec.first_user + rng.integers(0, spec.users, n_base).astype("int64")
    values = rng.integers(0, 1000, n_base).astype("int64")
    ts = due
    if n_dup:
        within_ms = int(DUP_WITHIN_S * 1000)
        n_src = int(np.searchsorted(due, due[-1] - within_ms, side="right"))
        src = rng.choice(n_src, size=n_dup, replace=False)
        delay = rng.integers(1, within_ms + 1, n_dup)
        ts = np.concatenate([due, due[src]])
        due = np.concatenate([due, due[src] + delay])
        ids = np.concatenate([ids, ids[src]])
        users = np.concatenate([users, users[src]])
        values = np.concatenate([values, values[src]])
    order = np.lexsort((ids, due))
    return Plan(due[order], ids[order], users[order], values[order], ts[order])


def payloads(p: Plan, t0_ms: int, lo: int, hi: int) -> tuple[list[str], list[str]]:
    """Wire (key, value) rows of events ``lo:hi``, stamped t0 + ts."""
    keys, values = [], []
    for i in range(lo, hi):
        eid = int(p.ids[i])
        keys.append(str(eid))
        values.append(
            json.dumps(
                {
                    "id": eid,
                    "value": f"event-{int(p.values[i])}",
                    "user_id": f"user{int(p.users[i])}",
                    "timestamp": (t0_ms + int(p.ts_ms[i])) / 1000.0,
                }
            )
        )
    return keys, values


def write_file(
    out_dir: str, name: str, keys: list[str], values: list[str]
) -> str:
    """Write one wire file atomically; return its final path. The
    file source reads a path once, so every name must be new."""
    final = os.path.join(out_dir, f"{name}.parquet")
    tmp = os.path.join(out_dir, f"_tmp-{name}.parquet")
    pq.write_table(pa.table({"key": keys, "value": values}, schema=WIRE_SCHEMA), tmp)
    os.rename(tmp, final)
    return final


def write_backlog(
    p: Plan, out_dir: str, t0_ms: int, events_per_file: int, prefix: str = "backlog"
) -> int:
    """Write the whole plan as files of ``events_per_file``; return the count."""
    os.makedirs(out_dir, exist_ok=True)
    seq = 0
    for lo in range(0, len(p), events_per_file):
        keys, values = payloads(p, t0_ms, lo, min(len(p), lo + events_per_file))
        write_file(out_dir, f"{prefix}-{seq:06d}", keys, values)
        seq += 1
    return seq


def run_live(
    p: Plan,
    out_dir: str,
    t0_ms: int,
    write=write_file,
) -> dict:
    """Write ``p`` on a fixed tick: tick k is due at t0 + k*TICK_S and
    carries the events due in ((k-1)*tick, k*tick]. Returns the tick
    count, the files and events written, and each tick's lateness
    (ms from its due time to the end of its write)."""
    tick_ms = int(round(TICK_S * 1000))
    late_ms: list[float] = []
    files = events = 0
    lo = 0
    k = 0
    n = len(p)
    while lo < n:
        k += 1
        due = (t0_ms + k * tick_ms) / 1000.0
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        hi = int(np.searchsorted(p.due_ms, k * tick_ms, side="right"))
        if hi > lo:
            keys, values = payloads(p, t0_ms, lo, hi)
            write(out_dir, f"live-{files:06d}", keys, values)
            files += 1
            events += hi - lo
            lo = hi
        late_ms.append((time.time() - due) * 1000.0)
    return {"ticks": k, "files": files, "events": events, "late_ms": late_ms}
