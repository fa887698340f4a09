"""``batch_headline``: a closed loop of one client over the batch
queries.

Each pass builds every query in ``metrics.QUERIES`` through the
registry (the builder may run eager actions of its own) and executes
it into the noop sink; the next query starts when the last one ends.
Tables come from ``datagen`` at ``SF``. The first pass warms the
session: it is the repository's oracle sweep
(``tools/check_oracle.run_sweep``), which runs each query through the
same builders, collects the result and compares it with the query's
DuckDB oracle twin, once, outside the timed passes. Timed passes then
run until another one would pass ``--seconds`` (at least one).
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import redirect_stdout

import datagen
from common import StatusDelta, jvm_peak_rss_mb
from metrics import QUERIES
from reference import CheckFailed, check_nonempty
from tracer import median

SF = 0.01
# a warm-pass query this slow has hung; the run's own budget is 170 s
WARM_QUERY_TIMEOUT_S = 60.0


def run(ctx) -> None:
    res, tr = ctx.result, ctx.tracer
    data_dir = os.path.join(ctx.work, "tables")
    rows = datagen.write_tables(data_dir, ctx.args.seed, SF)
    check_nonempty("batch_headline tables", min(rows.values()))

    from eventstream_notify_spark import registry
    from eventstream_notify_spark.session import get_spark
    from tools.check_oracle import run_sweep

    t = time.time()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tr.add("session.get_spark", t, time.time())
    res.put("session.get_spark_s", time.time() - t)
    queries = registry.queries()

    t_warm = time.time()
    # the sweep reports per query on stdout; the result line must come last
    with redirect_stdout(sys.stderr):
        bad = run_sweep(data_dir, set(QUERIES), spark, WARM_QUERY_TIMEOUT_S)
    tr.add("session.warm", t_warm, time.time())
    res.put("session.warm_s", time.time() - t_warm)
    res.attempted += len(QUERIES)
    res.failed += len(bad)
    if bad:
        raise CheckFailed("failed or did not match the DuckDB oracle: " + ", ".join(bad))

    status = StatusDelta(spark)
    sc = spark.sparkContext
    per: dict[str, dict[str, list[float]]] = {q: {} for q in QUERIES}
    pass_s: list[float] = []
    t_measure = time.time()
    while True:
        t_pass = time.time()
        for name in QUERIES:
            group = f"bench-{name}-{len(pass_s)}"
            sc.setJobGroup(group, name)
            e0 = status.executions()
            t0 = time.time()
            df = queries[name](spark, data_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            res.attempted += 1
            q_span = tr.add(f"q.{name}", t0, t2)
            tr.add(f"q.{name}.build", t0, t1, q_span)
            tr.add(f"q.{name}.execute", t1, t2, q_span)
            m = per[name]
            m.setdefault("build_s", []).append(t1 - t0)
            m.setdefault("exec_s", []).append(t2 - t1)
            m.setdefault("total_s", []).append(t2 - t0)
            m.setdefault("sql_execs", []).append(status.executions() - e0)
            for k, v in status.group_totals(group).items():
                m.setdefault(k, []).append(v)
        pass_s.append(time.time() - t_pass)
        if time.time() - t_measure + pass_s[-1] > float(ctx.args.seconds):
            break

    res.put("setup_s", t_measure - ctx.t_process)
    medians = {q: median(per[q]["total_s"]) for q in QUERIES}
    res.put("work_ms", sum(medians.values()) * 1000.0)
    slowest = max(medians, key=medians.get)
    res.put("tail_ms", medians[slowest] * 1000.0)
    res.put("session.peak_rss_mb", jvm_peak_rss_mb(spark))
    res.notes += [
        f"batch_suite_s={sum(medians.values()):.3f} s (sum of per-query medians, "
        f"{len(pass_s)} timed pass(es), sf{SF})",
        f"slowest query: {slowest} {medians[slowest]:.3f} s",
        "failed_ratio=0 (every query ran and matched its DuckDB oracle)",
        f"peak_rss_mb={res.metrics['session.peak_rss_mb']:.0f} MB (engine JVM)",
        f"shuffle partitions seen: {spark.conf.get('spark.sql.shuffle.partitions')}",
    ]
    for q in QUERIES:
        res.notes.append(
            f"{q}: build {median(per[q]['build_s']):.3f} s, "
            f"execute {median(per[q]['exec_s']):.3f} s, "
            f"{int(median(per[q]['sql_execs']))} SQL executions"
        )
    if ctx.trace:
        for q in QUERIES:
            for k in ("build_s", "exec_s", "sql_execs", "shuffle_bytes", "spill_bytes", "task_s"):
                res.put(f"q.{q}.{k}", median(per[q][k]))
        res.put("trace.work_ms", sum(medians.values()) * 1000.0)
