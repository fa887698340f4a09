"""The seeded generator: same seed, same bytes; the schedule never
waits for a slow write or reader."""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import loadgen

SPEC = loadgen.LoadSpec(seed=11, rate=200.0, users=450, dup_share=0.1)


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_same_seed_gives_byte_identical_files(tmp_path):
    for sub in ("a", "b"):
        p = loadgen.plan(SPEC, 5_000)
        loadgen.write_backlog(p, str(tmp_path / sub), 1_790_000_000_000, 1_000)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert len(a) == 5 and a == b


def test_other_seed_gives_other_events():
    a = loadgen.plan(SPEC, 2_000)
    b = loadgen.plan(loadgen.LoadSpec(**{**SPEC.__dict__, "seed": 12}), 2_000)
    assert not np.array_equal(a.users, b.users)


def test_plan_shape():
    p = loadgen.plan(SPEC, 2_400)
    assert len(p) == 2_400
    # sorted by due time; the plan lasts n / rate seconds
    assert np.all(np.diff(p.due_ms) >= 0)
    assert 11_900 <= p.due_ms.max() < 12_000
    assert len(p) - len(np.unique(p.ids)) == 240
    # a re-sent copy repeats its first send and trails it within DUP_WITHIN_S
    first: dict[int, tuple] = {}
    for i in range(len(p)):
        ev = (int(p.users[i]), int(p.values[i]), int(p.ts_ms[i]))
        eid, due = int(p.ids[i]), int(p.due_ms[i])
        if eid in first:
            assert first[eid][0] == ev
            assert 0 < due - first[eid][1] <= loadgen.DUP_WITHIN_S * 1000
        else:
            assert ev[2] == due
            first[eid] = (ev, due)


def test_payload_is_reference_wire_format():
    p = loadgen.plan(loadgen.LoadSpec(seed=1, rate=200.0, users=5), 3)
    keys, values = loadgen.payloads(p, 1_790_000_000_000, 0, 3)
    e = json.loads(values[1])
    assert set(e) == {"id", "value", "user_id", "timestamp"}
    assert keys[1] == str(e["id"]) and e["value"].startswith("event-")
    assert e["user_id"].startswith("user") and e["timestamp"] == 1_790_000_000.005


def test_live_schedule_holds_with_a_stalled_reader(tmp_path):
    """A reader that holds every file open and never keeps up, and one
    write that stalls, must not stretch the schedule: ticks stay on the
    wall clock and the stall shows up as lateness."""
    p = loadgen.plan(loadgen.LoadSpec(seed=3, rate=200.0, users=50), 200)  # 1 s
    out = str(tmp_path)
    stop = threading.Event()
    held = []

    def stalled_reader():
        while not stop.is_set():
            for f in os.listdir(out):
                if f.startswith("live-"):
                    held.append(open(os.path.join(out, f), "rb"))
            time.sleep(0.5)

    def slow_write(d, name, keys, values):
        if name == "live-000002":
            time.sleep(0.3)
        return loadgen.write_file(d, name, keys, values)

    reader = threading.Thread(target=stalled_reader, daemon=True)
    reader.start()
    t0_ms = int(time.time() * 1000)
    try:
        rep = loadgen.run_live(p, out, t0_ms, write=slow_write)
    finally:
        stop.set()
        reader.join(timeout=5)
        for f in held:
            f.close()
    elapsed = time.time() - t0_ms / 1000.0
    assert rep["events"] == 200 and rep["files"] == rep["ticks"] == 10
    assert elapsed < 1.0 + 0.25  # the 0.3 s stall was absorbed, not added
    assert max(rep["late_ms"]) >= 300.0
    assert rep["late_ms"][-1] < 100.0
    # stamps are due times, not write times
    rows = pq.read_table(os.path.join(out, "live-000002.parquet")).column("value")
    stamps = [json.loads(v.as_py())["timestamp"] for v in rows]
    assert max(stamps) <= (t0_ms + 300) / 1000.0
