"""Committed-bench-record freshness gate (r9 verdict #2).

Round 9's committed ``bench_prev.json`` predated the round's final two
commits, so 43 plan fingerprints at HEAD didn't match the record and
the driver's variance classifier surfaced 7 spurious PLAN_CHANGEs.
This module makes that staleness a TEST FAILURE: the record's sf0.001
fingerprint section must equal a fresh ``plan_fingerprint`` pass over
the registry at HEAD. The round-exit rule it enforces: regenerate
``bench_prev.json`` AFTER the round's last code change.

Deliberately NOT in the ``-m contract`` fast lane (builder pass over
the full registry costs minutes); like tests/test_plans_full.py it is
a round-gate backstop.

Streaming-executor queries are excluded: their returned frame is a
memory/parquet-sink scan whose fingerprint carries no plan signal
(and executing ~40 bounded streams would dominate the test's cost).
The comparison runs at sf0.001 — a second, cheap record section
written by the same round-exit bench pass — because fingerprints are
statistics-sensitive (a broadcast threshold can flip between SFs), so
each SF section is only comparable to a fresh pass at ITS OWN SF.
Core counts differ between the host that wrote the record and the one
checking it; ``plan_fingerprint`` canonicalizes partition counts, so
that difference alone never fails the gate.
"""

from __future__ import annotations

import json
from pathlib import Path

from eventstream_notify_spark.registry import queries

SF = "/root/testdata/sf0.001"
RECORD = Path(__file__).resolve().parent.parent / "bench_prev.json"

_STREAMING_EXECUTORS = (
    "stream_",
    "zx_stream_",
    "sink_",
    "pipeline_e2e",
    "rate_limit_user",
    "dedup_ttl",
)


def _is_streaming(name: str) -> bool:
    return any(
        name.startswith(p) or name.removeprefix("zx_").startswith(p)
        for p in _STREAMING_EXECUTORS
    )


def _stale_fingerprints(spark, committed: dict, reg: dict):
    """The gate's comparison: (missing, stale) for every non-streaming
    query in ``reg`` against the ``committed`` fingerprint map."""
    from bench import plan_fingerprint

    stale: list[str] = []
    missing: list[str] = []
    for name in sorted(reg):
        if _is_streaming(name):
            continue
        if name not in committed:
            missing.append(name)
            continue
        fresh = plan_fingerprint(reg[name](spark, SF))
        if fresh != committed[name]:
            stale.append(f"{name}: committed {committed[name]} != head {fresh}")
    return missing, stale


def test_committed_record_fingerprints_match_head(spark):
    record = json.loads(RECORD.read_text())
    assert "0.001" in record, (
        "bench_prev.json carries no sf0.001 section — the round-exit "
        "bench pass (bench.py at SPARK_GRAFT_SF_DIR=sf0.001) writes it"
    )
    committed = record["0.001"].get("fingerprints", {})
    missing, stale = _stale_fingerprints(spark, committed, queries())
    assert not missing, (
        "queries registered at HEAD but absent from the committed "
        f"record (regenerate bench_prev.json at the final commit): "
        f"{missing[:10]}"
    )
    assert not stale, (
        "committed bench_prev.json fingerprints are STALE relative to "
        "HEAD — regenerate the record at the round's final commit "
        "(r9 verdict #2):\n" + "\n".join(stale[:15])
    )


def _grouped(spark, parts: int, extra_filter: bool = False):
    """A shuffle plan whose Exchange and Range carry ``parts``."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    df = spark.range(0, 1000, 1, parts)
    if extra_filter:
        df = df.filter(F.col("id") > 10)
    return df.groupBy((F.col("id") % 7).alias("k")).count()


def test_gate_is_host_independent_but_catches_plan_changes(spark):
    """The record is written on one host and checked on another: a
    different core count (partition count in every Exchange and Range)
    must not fail the gate, while a structural plan change still
    must."""
    from bench import plan_fingerprint

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        committed = {"q_agg": plan_fingerprint(_grouped(spark, 32))}
        same = {"q_agg": lambda s, _sf: _grouped(s, 3)}
        changed = {"q_agg": lambda s, _sf: _grouped(s, 32, extra_filter=True)}
        assert _stale_fingerprints(spark, committed, same) == ([], [])
        missing, stale = _stale_fingerprints(spark, committed, changed)
        assert not missing and len(stale) == 1 and stale[0].startswith("q_agg")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
