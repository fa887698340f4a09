"""Pieces both workloads share: the result record, the engine's
peak memory, Spark's own per-batch progress read through a listener,
and per-call deltas of the engine's status store."""

from __future__ import annotations

import json
import threading

from py4j.protocol import Py4JJavaError

from metrics import UNITS
from tracer import median


class Result:
    """Metrics of one run plus the ``attempted``/``failed`` counts."""

    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def put(self, name: str, value: float | None) -> None:
        if name not in UNITS:
            raise KeyError(f"metric {name!r} is not in metrics.py")
        self.metrics[name] = 0.0 if value is None else float(value)

    def line(self, correct: bool, names: list[str], missing_ok: bool) -> str:
        """The run's JSON result. A name without a value reads 0 when
        ``missing_ok`` (a bypassed layer, or a failed run)."""
        absent = [n for n in names if n not in self.metrics]
        if absent and not missing_ok:
            raise KeyError(f"run produced no value for {absent}")
        return json.dumps(
            {
                "correct": correct,
                "attempted": int(self.attempted),
                "failed": int(self.failed),
                "metrics": {
                    n: {"value": self.metrics.get(n, 0.0), "unit": UNITS[n]}
                    for n in names
                },
            }
        )


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the engine's JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class ProgressLog:
    """A StreamingQueryListener that keeps every progress as parsed
    JSON. ``close`` removes it; do so before Spark stops."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._spark = spark
        self._seen: list[dict] = []
        self._lock = threading.Lock()
        seen, lock = self._seen, self._lock

        class Keep(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with lock:
                    seen.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Keep()
        spark.streams.addListener(self._listener)

    def close(self) -> list[dict]:
        """Remove the listener (once); return the progress seen."""
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None
        with self._lock:
            return list(self._seen)


def _state_op(progress: dict, dedup: bool) -> dict | None:
    for op in progress.get("stateOperators", []):
        if ("dedup" in op.get("operatorName", "").lower()) == dedup:
            return op
    return None


def _p50(values) -> float:
    m = median([v for v in values if v is not None])
    return 0.0 if m is None else m


def progress_metrics(progresses: list[dict]) -> dict[str, float]:
    """Per-layer numbers from Spark's per-batch progress. The state
    operators' ``memoryUsedBytes`` is left out: with the RocksDB
    provider it reads the same value on every batch however many rows
    the state holds (see README.md)."""
    out: dict[str, float] = {}
    if not progresses:
        return out
    dur = [p.get("durationMs", {}) for p in progresses]
    data = [p for p in progresses if p.get("numInputRows", 0) > 0]
    out["pipeline.batches"] = len(progresses)
    out["pipeline.no_data_batches"] = len(progresses) - len(data)
    trig = [d.get("triggerExecution", 0) for d in dur]
    out["pipeline.trigger_ms_p50"] = _p50(trig)
    out["pipeline.trigger_ms_max"] = max(trig)
    out["pipeline.planning_ms_p50"] = _p50(d.get("queryPlanning") for d in dur)
    out["pipeline.add_batch_ms_p50"] = _p50(d.get("addBatch") for d in dur)
    out["pipeline.wal_commit_ms_p50"] = _p50(d.get("walCommit") for d in dur)
    out["pipeline.commit_offsets_ms_p50"] = _p50(d.get("commitOffsets") for d in dur)
    out["pipeline.rows_per_batch_p50"] = _p50(p["numInputRows"] for p in data)
    out["sources.rows"] = sum(p.get("numInputRows", 0) for p in progresses)
    out["sources.latest_offset_ms_p50"] = _p50(d.get("latestOffset") for d in dur)
    for key, dedup in (("dedup", True), ("ratelimit", False)):
        ops = [op for op in (_state_op(p, dedup) for p in progresses) if op]
        if not ops:
            continue
        out[f"{key}.stores"] = max(op.get("numStateStoreInstances", 0) for op in ops)
        out[f"{key}.state_rows_max"] = max(op.get("numRowsTotal", 0) for op in ops)
        out[f"{key}.commit_ms_p50"] = _p50(op.get("commitTimeMs") for op in ops)
        out[f"{key}.update_ms_p50"] = _p50(op.get("allUpdatesTimeMs") for op in ops)
        out[f"{key}.removal_ms_p50"] = _p50(op.get("allRemovalsTimeMs") for op in ops)
        out[f"{key}.shuffle_partitions"] = max(
            op.get("numShufflePartitions", 0) for op in ops
        )
        if dedup:
            dropped = sum(
                op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                for op in ops
            )
            rows = out["sources.rows"]
            out["dedup.dropped_ratio"] = dropped / rows if rows else 0.0
    return out


class StatusDelta:
    """Change in the engine's status store across one call: SQL
    executions started, and shuffle-write bytes, spilled bytes and
    executor run time of the stages of the jobs run under a job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.stages = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()

    def executions(self) -> int:
        return int(self.sql.executionsCount())

    def group_totals(self, group: str) -> dict[str, float]:
        shuffle = spill = run_ms = 0
        for job in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    st = self.stages.lastStageAttempt(int(sid))
                except Py4JJavaError:  # stage not in the store
                    continue
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run_ms += st.executorRunTime()
        return {"shuffle_bytes": shuffle, "spill_bytes": spill, "task_s": run_ms / 1000.0}
