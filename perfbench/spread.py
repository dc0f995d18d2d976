#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload zonal_pixels --seeds 1-10 [--seconds S]

Runs ``run.py --trace 0`` once per seed, one after another, and prints
for each metric its median, quartiles and (Q3 - Q1) / median, the
statistic the benchmark's bounds are checked against.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = str(json.load(f)["run_seconds"])
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    values: dict[str, list[float]] = {}
    for seed in seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", args.seconds,
             "--trace", "0"], capture_output=True, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.perf_counter() - t0:.0f} s, correct="
              f"{res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:<18} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {(q3 - q1) / med:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
