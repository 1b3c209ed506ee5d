#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread ((q3 - q1) / median), the check a
benchmark's bounds are judged by.

    python3 replaybench/spread.py --workload ann_retrieval --seeds 1-5 \
        --seconds 12

Runs are sequential, from the repository root. Besides the table it
prints each run's wall time and the worst |drift| seen.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    values: dict = {}
    walls, drifts = [], []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=root, capture_output=True, text=True, check=True,
        )
        walls.append(time.perf_counter() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        rec_path = os.path.join(
            root, ".bench_work", "records",
            f"{args.workload}-seed{seed}-trace{args.trace}.json",
        )
        with open(rec_path) as fh:
            drift = json.load(fh).get("drift")
        if drift is not None:
            drifts.append(abs(drift))
        print(f"seed {seed}: {walls[-1]:.1f}s wall, correct={result['correct']}, "
              f"attempted={result['attempted']}, drift={drift}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{name:28s} median {statistics.median(vals):12.4f}  spread {spread:.4f}")
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    if drifts:
        print(f"worst |drift| {max(drifts):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
