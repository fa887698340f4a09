"""``notify_live``: the reference's user path, live, in an open loop.

A separate load process (``loadproc.py``) writes seeded wire events
at a fixed 200 ev/s over 450 uniform users, a tenth of the events
re-sent copies, and listens as one WebSocket subscriber, one SSE
subscriber and one 1 Hz ``/stats`` poller. The engine runs
``wire_file_stream`` → ``start_pipeline`` (TTL dedup → 5-per-60 s
limiter) into a micro-batch sink that lands each batch in the durable
``ParquetKeyedStore`` and then publishes it through ``ServingHub.sink``,
served by ``EventsHttpServer``.

Before the load starts, one warm-up file (its own ids and users)
goes through the same pipeline, so the measured window starts after
the first, cold micro-batch. Latency is measured from each event's
creation stamp (its due time on the schedule) to its receipt.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import loadgen
import reference
from common import ProgressLog, jvm_peak_rss_mb, progress_metrics
from reference import CheckFailed
from tracer import median, tail

RATE = 200.0
# 450 users send ~4.8 distinct events each in a 12 s run, about what
# 2,000 users send in one 60 s limiter window at 200 ev/s: the limiter
# turns away about one event in six, as it would in steady state
USERS = 450
# re-sent copies (producer retries) for TTL dedup to drop
DUP_SHARE = 0.1
WARM_S = 2.0
WARM_EVENTS = 200
WARM_ID0 = 10**12
WARM_USER0 = 10**6
WAIT_S = 120.0
# a generator this late no longer makes an open loop: the run is invalid
LATE_LIMIT_MS = 2000.0

# Spark's micro-batch phases, in the order MicroBatchExecution runs them
PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


def _durable_notify(store, hub, tracer, timings: dict):
    """foreachBatch sink: compute the batch once, land it in the
    keyed store, then publish it. Records per-call times (always) and
    spans (when tracing)."""

    def sink(batch_df, epoch_id: int) -> None:
        start = time.time()
        batch_df = batch_df.persist()
        try:
            t0 = time.time()
            batch_df.count()
            t1 = time.time()
            store.upsert_batch(batch_df, epoch_id)
            t2 = time.time()
            hub.sink(batch_df, epoch_id)
            t3 = time.time()
        finally:
            batch_df.unpersist()
        timings.setdefault("upsert_ms", []).append((t2 - t1) * 1000.0)
        timings.setdefault("publish_ms", []).append((t3 - t2) * 1000.0)
        parent = tracer.add("sink.batch", start, time.time())
        if parent is not None:
            timings.setdefault("sink_spans", {})[int(epoch_id)] = parent
            tracer.add("stream.compute", t0, t1, parent)
            tracer.add("sinks.upsert_batch", t1, t2, parent)
            tracer.add("serving.sink", t2, t3, parent)

    return sink


def _phase_spans(tracer, progresses: list[dict], sink_spans: dict[int, int]) -> None:
    """Rebuild each batch's phase spans from its ``durationMs`` and
    hang the sink span of that batch under its ``addBatch`` phase."""
    for p in progresses:
        start = datetime.fromisoformat(p["timestamp"]).timestamp()
        dur = p.get("durationMs", {})
        batch = tracer.add(
            "stream.batch", start, start + dur.get("triggerExecution", 0) / 1000.0
        )
        at = start
        for phase in PHASES:
            ms = dur.get(phase)
            if ms is None:
                continue
            sid = tracer.add(f"pipeline.{phase}", at, at + ms / 1000.0, batch)
            if phase == "addBatch" and p["batchId"] in sink_spans:
                tracer.spans[sink_spans[p["batchId"]]]["parent"] = sid
            at += ms / 1000.0


def _backlog_max(progresses: list[dict], n_live: int, t0: float) -> float:
    """Largest (events generated − events read) seen at a batch end.
    Live events are due every 1/RATE s from t0; the warm-up file
    counts as generated from the start."""
    worst = 0.0
    read = 0
    for p in progresses:
        read += p.get("numInputRows", 0)
        end = datetime.fromisoformat(p["timestamp"]).timestamp() + (
            p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        )
        made = min(n_live, max(0, int((end - t0) * RATE) + 1))
        worst = max(worst, made + WARM_EVENTS - read)
    return worst


def _wait_warm(q, hub, load, n_warm: int, ready: str) -> None:
    """Return once the warm-up events are published and the load
    process is connected. The live load then starts at the same point
    of every run: while the cold warm-up batch commits, so the next
    batch, which would otherwise run without data, takes the first
    live events."""
    deadline = time.time() + WAIT_S
    while len(hub.snapshot()) < n_warm or not os.path.exists(ready):
        if time.time() > deadline or load.poll() is not None:
            raise CheckFailed("warm-up batch or load process never became ready")
        if q.exception() is not None:
            raise CheckFailed(f"pipeline failed during warm-up: {q.exception()}")
        time.sleep(0.05)


def run(ctx) -> None:
    from eventstream_notify_spark.serving import EventsHttpServer, ServingHub
    from eventstream_notify_spark.session import get_spark
    from eventstream_notify_spark.sources.events import wire_file_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline
    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    res, tr, work = ctx.result, ctx.tracer, ctx.work
    seconds = float(ctx.args.seconds)
    in_dir = os.path.join(work, "topic")
    os.makedirs(in_dir)
    go = os.path.join(work, "go")
    out = os.path.join(work, "load.json")

    t = time.time()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tr.add("session.get_spark", t, time.time())
    res.put("session.get_spark_s", time.time() - t)
    log = ProgressLog(spark) if ctx.trace else None

    hub = ServingHub()
    server = EventsHttpServer(hub)
    port = server.start()
    load = subprocess.Popen(
        [
            sys.executable,
            os.path.join(ctx.here, "loadproc.py"),
            "--port", str(port), "--dir", in_dir, "--go", go, "--out", out,
            "--seed", str(ctx.args.seed), "--rate", str(RATE),
            "--users", str(USERS), "--warm-s", str(WARM_S),
            "--seconds", str(seconds), "--dup-share", str(DUP_SHARE),
            "--trace", str(int(ctx.trace)),
        ],
        cwd=ctx.root,
    )
    q = None
    try:
        t_warm = time.time()
        warm = loadgen.plan(
            loadgen.LoadSpec(
                seed=ctx.args.seed + 1, rate=RATE, users=WARM_EVENTS,
                first_id=WARM_ID0, first_user=WARM_USER0,
            ),
            WARM_EVENTS,
        )
        warm_t0_ms = int(time.time() * 1000) - 2000
        loadgen.write_backlog(warm, in_dir, warm_t0_ms, WARM_EVENTS, prefix="warm")
        warm_want = reference.admitted(
            warm.ids, warm.users, reference.wire_ts_us(warm_t0_ms, warm.ts_ms)
        )
        store = ParquetKeyedStore(os.path.join(work, "store"))
        timings: dict = {}
        q = start_pipeline(
            wire_file_stream(spark, in_dir),
            os.path.join(work, "ckpt"),
            _durable_notify(store, hub, tr, timings),
        )
        _wait_warm(q, hub, load, len(warm_want), go + ".ready")
        tr.add("session.warm", t_warm, time.time())
        res.put("session.warm_s", time.time() - t_warm)
        with open(go, "w"):
            pass
        try:
            load.wait(timeout=WARM_S + seconds + WAIT_S)
        except subprocess.TimeoutExpired:
            raise CheckFailed("load process hung") from None
        if load.returncode != 0 or not os.path.exists(out):
            raise CheckFailed(f"load process failed (exit {load.returncode})")
        if q.exception() is not None:
            raise CheckFailed(f"pipeline failed: {q.exception()}")
        with open(out) as f:
            lp = json.load(f)
        q.stop()
        progresses = (
            log.close() if log else [json.loads(p.json) for p in q.recentProgress]
        )
        q = None
        t = time.time()
        stored = [
            int(r.event_id) for r in store.compacted(spark).select("event_id").collect()
        ]
        res.put("sinks.read_s", time.time() - t)
        res.put("session.peak_rss_mb", jvm_peak_rss_mb(spark))
    finally:
        if q is not None:
            q.stop()
        if log:
            log.close()
        if load.poll() is None:
            load.kill()
            load.wait()
        server.stop()

    # --- correctness -------------------------------------------------
    want = set(lp["admitted"])
    lo, hi = lp["id_range"]
    reference.check_nonempty("notify_live admitted set", len(want))
    if max(lp["gen"]["late_ms"]) > LATE_LIMIT_MS:
        raise CheckFailed(
            f"load generator ran {max(lp['gen']['late_ms']):.0f} ms late; "
            "the open loop did not hold its schedule"
        )
    snap = [int(json.loads(p)["id"]) for p in hub.snapshot()]
    reference.check_same_ids("hub snapshot", snap, want | warm_want)
    reference.check_same_ids("ParquetKeyedStore.compacted()", stored, want | warm_want)
    lat_ms: list[float] = []
    measure_from = lp["t0_ms"] / 1000.0 + WARM_S
    res.attempted = 0
    res.failed = 0
    for kind, sub in lp["subscribers"].items():
        live = [g for g in sub["got"] if lo <= g[0] <= hi]
        res.attempted += len(want)
        res.failed += reference.delivery_failures([g[0] for g in live], want)
        res.put(f"serving.delivered.{kind}", len(live))
        lat_ms += [(r - ts) * 1000.0 for _, r, ts in live if ts >= measure_from]
        if sub["error"]:
            res.notes.append(f"{kind} subscriber: {sub['error']}")
    if res.failed:
        raise CheckFailed(
            f"{res.failed} of {res.attempted} deliveries were not exactly once"
        )
    if len(lat_ms) < 20:
        raise CheckFailed(f"only {len(lat_ms)} notifications in the measured window")
    bad_polls = sum(1 for _, _, ok in lp["stats"] if not ok)
    if bad_polls:
        raise CheckFailed(f"{bad_polls} /stats polls failed")

    # --- end to end ----------------------------------------------------
    res.put("setup_s", measure_from - ctx.t_process)
    res.put("work_ms", median(lat_ms))
    pct, tail_ms = tail(lat_ms)
    res.put("tail_ms", tail_ms)
    stats_ms = [ms for _, ms, _ in lp["stats"]]
    res.notes += [
        f"notify_p50_ms={median(lat_ms):.1f} ms",
        f"notify_p{pct:g}_ms={tail_ms:.1f} ms (n={len(lat_ms)})",
        f"stats_p50_ms={median(stats_ms):.2f} ms (n={len(stats_ms)})",
        f"failed_ratio={res.failed / res.attempted:.4f} "
        f"({res.failed}/{res.attempted} deliveries)",
        f"drained_after_gen_s={lp['drained_s']:.1f} s",
        f"peak_rss_mb={res.metrics['session.peak_rss_mb']:.0f} MB (engine JVM)",
    ]
    last = progresses[-1] if progresses else {}
    for op in last.get("stateOperators", []):
        res.notes.append(
            f"state operator {op.get('operatorName')}: "
            f"{op.get('numStateStoreInstances')} stores, "
            f"{op.get('numShufflePartitions')} shuffle partitions"
        )
    if not ctx.trace:
        return

    # --- per layer (traced run) ---------------------------------------
    layer = progress_metrics(progresses)
    res.notes.append(
        "batches (input rows / trigger ms): "
        + ", ".join(
            f"{p.get('numInputRows', 0)}/{p.get('durationMs', {}).get('triggerExecution', 0)}"
            for p in progresses
        )
    )
    for name, value in layer.items():
        res.put(name, value)
    res.put("gen.late_ms_max", max(lp["gen"]["late_ms"]))
    res.put(
        "sources.backlog_max",
        _backlog_max(progresses, lp["gen"]["events"], lp["t0_ms"] / 1000.0),
    )
    rows = layer.get("sources.rows", 0)
    kept = rows * (1.0 - layer.get("dedup.dropped_ratio", 0.0))
    res.put("ratelimit.admit_ratio", len(snap) / max(1.0, kept))
    up = timings.get("upsert_ms", [])
    pub = timings.get("publish_ms", [])
    res.put("sinks.upsert_ms_p50", median(up))
    res.put("sinks.upsert_ms_max", max(up, default=0.0))
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(work, "store"))
        for f in fs
        if f.endswith(".parquet")
    ]
    res.put("sinks.files", len(files))
    res.put(
        "sinks.bytes_per_event",
        sum(os.path.getsize(f) for f in files) / max(1, len(stored)),
    )
    res.put("serving.sink_ms_p50", median(pub))
    res.put("serving.sink_ms_max", max(pub, default=0.0))
    res.put("serving.store_entries", len(snap))
    res.put("serving.stats_ms_p50", median(stats_ms))
    st = tail(stats_ms)
    res.put("serving.stats_ms_p99", st[1] if st else max(stats_ms))
    _phase_spans(tr, progresses, timings.get("sink_spans", {}))
    for s in lp["spans"]:
        tr.add(s["name"], s["start"], s["end"])
    res.put("trace.work_ms", median(lat_ms))
