"""In-memory spans and the statistics the benchmark reports.

A span is (id, name, start, end, parent, run). Spans are appended
under a lock (listener callbacks and client threads record them) and
written out once, when the run ends. ``self_times`` gives each span's
duration minus the part of it that its children cover; ``tail``
applies the reporting rule for timings: the highest percentile that
still has at least ten samples beyond it.
"""

from __future__ import annotations

import json
import math
import threading

# percentiles tried, highest first, by ``tail``
TAIL_LADDER = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


class Tracer:
    """Collects spans of one run. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(
        self, name: str, start: float, end: float, parent: int | None = None
    ) -> int | None:
        """Record a finished span; return its id (None when disabled)."""
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "run": self.run_id,
                }
            )
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of the union of ``parts`` clipped to ``interval``."""
    lo, hi = interval
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in parts if e > lo and s < hi)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered((s["start"], s["end"]), children.get(s["id"], []))
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def median(values: list[float]) -> float | None:
    if not values:
        return None
    v = sorted(values)
    n = len(v)
    mid = n // 2
    return v[mid] if n % 2 else (v[mid - 1] + v[mid]) / 2.0


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile in TAIL_LADDER
    with at least MIN_BEYOND samples above its nearest-rank position;
    None when even the median lacks that many."""
    v = sorted(values)
    n = len(v)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return p, v[rank - 1]
    return None
