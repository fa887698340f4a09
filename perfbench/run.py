"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload notify_live --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. The workload runs in a fresh
worker process (its own session, so nothing leaks between
workloads) with ``SPARK_GRAFT_CPUS`` set to the usable core count;
the benchmark sets no Spark conf. Scratch files (temp dirs, Spark
local dirs, the JVM's temp dir) stay under ``.bench_work/`` in the
checkout and are removed afterwards; a traced run leaves its spans in
``.bench_work/traces/``. The last line of standard output is the JSON
result. A failed correctness check, a hang or a missing engine exits
non-zero.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import WORKLOADS  # noqa: E402

BUDGET_S = 170.0


def _group_alive(pgid: int) -> bool:
    """True while a non-zombie process of the group remains."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Ask every process of the group to stop, then kill and wait."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "eventstream_notify_spark")):
        print("engine package eventstream_notify_spark/ not found", file=sys.stderr)
        return 3

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "local"))
    spans_out = None
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        spans_out = os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        )
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        JAVA_TOOL_OPTIONS=(
            env.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
        ).strip(),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    # a terminated runner still stops the worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the worker's cwd is its scratch dir, so relative scratch that the
    # engine or DuckDB leave behind is removed with it
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=BUDGET_S)
    except subprocess.TimeoutExpired:
        print(f"{args.workload}: no result within {BUDGET_S:.0f} s (hang)", file=sys.stderr)
        code = 4
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
