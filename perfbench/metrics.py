"""Every metric the benchmark prints: name, unit, better direction.

``E2E`` are printed by every untraced run (``--trace 0``); ``LAYER``
by every traced run (``--trace 1``). A layer a workload bypasses
reads 0 there. ``BENCHMARK.json`` at the repository root lists the
same names; a test keeps the two in step.
"""

from __future__ import annotations

WORKLOADS = ("notify_live", "batch_headline")

# name, unit, better, bound (share of the parent's median)
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("work_ms", "ms", "lower", 0.24),
    ("tail_ms", "ms", "lower", 0.24),
)

# the ten batch_headline queries: bench.HEADLINE plus two riders
QUERIES = (
    "pipeline_e2e",
    "sink_keyed_upsert",
    "rate_limit_user",
    "agg_hash",
    "join_shuffle",
    "dedup_near",
    "sim_search_cosine",
    "ts_similarity",
    "zx_dedup_cluster",
    "zx_pagerank_dedup_graph",
)

_QUERY_METRICS = (
    ("build_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("sql_execs", "count", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("task_s", "s", "lower"),
)

LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("sources.rows", "count", "higher"),
    ("sources.backlog_max", "count", "lower"),
    ("sources.latest_offset_ms_p50", "ms", "lower"),
    ("gen.late_ms_max", "ms", "lower"),
    ("pipeline.batches", "count", "higher"),
    ("pipeline.no_data_batches", "count", "lower"),
    ("pipeline.trigger_ms_p50", "ms", "lower"),
    ("pipeline.trigger_ms_max", "ms", "lower"),
    ("pipeline.planning_ms_p50", "ms", "lower"),
    ("pipeline.add_batch_ms_p50", "ms", "lower"),
    ("pipeline.wal_commit_ms_p50", "ms", "lower"),
    ("pipeline.commit_offsets_ms_p50", "ms", "lower"),
    ("pipeline.rows_per_batch_p50", "count", "higher"),
    ("dedup.stores", "count", "lower"),
    ("dedup.shuffle_partitions", "count", "lower"),
    ("dedup.state_rows_max", "count", "lower"),
    ("dedup.commit_ms_p50", "ms", "lower"),
    ("dedup.update_ms_p50", "ms", "lower"),
    ("dedup.removal_ms_p50", "ms", "lower"),
    ("dedup.dropped_ratio", "ratio", "higher"),
    ("ratelimit.stores", "count", "lower"),
    ("ratelimit.shuffle_partitions", "count", "lower"),
    ("ratelimit.state_rows_max", "count", "lower"),
    ("ratelimit.commit_ms_p50", "ms", "lower"),
    ("ratelimit.update_ms_p50", "ms", "lower"),
    ("ratelimit.removal_ms_p50", "ms", "lower"),
    ("ratelimit.admit_ratio", "ratio", "higher"),
    ("sinks.upsert_ms_p50", "ms", "lower"),
    ("sinks.upsert_ms_max", "ms", "lower"),
    ("sinks.files", "count", "lower"),
    ("sinks.bytes_per_event", "B", "lower"),
    ("sinks.read_s", "s", "lower"),
    ("serving.sink_ms_p50", "ms", "lower"),
    ("serving.sink_ms_max", "ms", "lower"),
    ("serving.store_entries", "count", "higher"),
    ("serving.delivered.ws", "count", "higher"),
    ("serving.delivered.sse", "count", "higher"),
    ("serving.stats_ms_p50", "ms", "lower"),
    ("serving.stats_ms_p99", "ms", "lower"),
    *(
        (f"q.{q}.{m}", unit, better)
        for q in QUERIES
        for m, unit, better in _QUERY_METRICS
    ),
    ("self_s.session", "s", "lower"),
    ("self_s.sources", "s", "lower"),
    ("self_s.pipeline", "s", "lower"),
    ("self_s.sinks", "s", "lower"),
    ("self_s.serving", "s", "lower"),
    ("self_s.operators", "s", "lower"),
    ("trace.work_ms", "ms", "lower"),
    ("trace.spans", "count", "higher"),
)

UNITS = {name: unit for name, unit, *_ in E2E + LAYER}

# span name prefix -> layer whose self time it counts toward
SPAN_LAYERS = (
    ("session.", "session"),
    ("pipeline.latestOffset", "sources"),
    ("pipeline.getBatch", "sources"),
    ("pipeline.", "pipeline"),
    ("stream.", "pipeline"),
    ("sink.batch", "pipeline"),
    ("sinks.", "sinks"),
    ("serving.", "serving"),
    ("q.", "operators"),
)


def layer_of(span_name: str) -> str | None:
    for prefix, layer in SPAN_LAYERS:
        if span_name.startswith(prefix):
            return layer
    return None
