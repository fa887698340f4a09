"""Runs one workload in this (fresh) process and prints its result.

Started by ``run.py``; not meant to be run by hand. Prints notes
about the run, then, as its last line, the JSON result. Exit codes:
0 done and correct, 1 a correctness check failed (the result line
says ``"correct": false``), 3 the engine package is missing.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from metrics import E2E, LAYER, UNITS, WORKLOADS, layer_of  # noqa: E402
from reference import CheckFailed  # noqa: E402
from tracer import Tracer, self_time_by_name  # noqa: E402
from common import Result  # noqa: E402


class Context:
    """What a workload's ``run(ctx)`` gets: arguments, scratch dir,
    the result to fill and the tracer (disabled when untraced)."""

    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.work = args.work
        self.here = HERE
        self.root = ROOT
        self.t_process = T_PROCESS
        self.result = Result()
        self.tracer = Tracer(
            f"{args.workload}-seed{args.seed}-{os.getpid()}", enabled=self.trace
        )


def _layer_self_times(ctx: Context) -> None:
    spans = ctx.tracer.spans
    ctx.result.put("trace.spans", len(spans))
    per_layer: dict[str, float] = {}
    for name, secs in self_time_by_name(spans).items():
        layer = layer_of(name)
        if layer is not None:
            per_layer[layer] = per_layer.get(layer, 0.0) + secs
    for layer, secs in per_layer.items():
        ctx.result.put(f"self_s.{layer}", secs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spans-out", default=None)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("eventstream_notify_spark")
    except ImportError as e:
        print(f"engine package not importable: {e}", file=sys.stderr)
        return 3

    ctx = Context(args)
    workload = importlib.import_module(args.workload)
    correct = True
    try:
        workload.run(ctx)
    except CheckFailed as e:
        correct = False
        ctx.result.failed = max(ctx.result.failed, 1)
        ctx.result.attempted = max(ctx.result.attempted, ctx.result.failed)
        print(f"CHECK FAILED: {e}", file=sys.stderr, flush=True)
    names = [m[0] for m in (LAYER if ctx.trace else E2E)]
    if ctx.trace and correct:
        _layer_self_times(ctx)
        if args.spans_out:
            ctx.tracer.write(args.spans_out)
    for note in ctx.result.notes:
        print(f"# {note}")
    for n in names:
        if n in ctx.result.metrics:
            print(f"{args.workload} {n} = {ctx.result.metrics[n]:.6g} {UNITS[n]}")
    print(ctx.result.line(correct, names, missing_ok=ctx.trace or not correct), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
