"""Tracing overhead of one workload: run it untraced, then traced,
with the same seed, and print the traced minus the untraced
``work_ms``.

    python3 perfbench/overhead.py --workload batch_headline --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
        ],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = _run(args, 0)["work_ms"]["value"]
    traced = _run(args, 1)["trace.work_ms"]["value"]
    print(
        json.dumps(
            {
                "workload": args.workload,
                "work_ms": plain,
                "trace.work_ms": traced,
                "trace.overhead_ms": traced - plain,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
