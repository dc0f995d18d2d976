#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload: a git revision against
the working tree this file lives in.

    python tools/ab.py retile_resume HEAD~1 --pairs 10

``REV`` is exported with ``git archive``, and the working tree copied
(without ``.git`` and perfbench's cache and work directories), into
fresh temporary directories under ``$TMPDIR``: each side benchmarks its
own code, and both start from the same state (a fresh directory and an
empty input cache).
Pair ``i`` runs ``perfbench/run.py --workload W --seed i --trace 0`` (for
BENCHMARK.json's ``run_seconds``) once per tree, each in a fresh process, the revision first on even pairs and
the working tree first on odd ones.  The summary gives, per end-to-end
metric of BENCHMARK.json, the revision's median [quartiles, IQR], the
working tree's median, the change and the pairs the working tree won,
plus the host's cpus and loadavg.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """Write the tree of ``rev`` of this checkout into ``dest``."""
    tar = subprocess.run(["git", "-C", ROOT, "archive", rev],
                         capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """The result JSON (last output line) of one fresh perfbench run in
    ``tree``; ``{"correct": False, "failed": 1}`` if it did not finish."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
        return {"correct": False, "failed": 1, "metrics": {}}


def summary(name: str, unit: str, better: str, base: list[float],
            change: list[float]) -> str:
    """One line: base median [q1–q3, IQR] → change median (delta, wins,
    gain over the base's IQR).  ``base[i]`` and ``change[i]`` are pair i."""
    mid = statistics.median(base)
    q1, _, q3 = (statistics.quantiles(base, n=4, method="inclusive")
                 if len(base) > 1 else (mid, mid, mid))
    iqr = q3 - q1
    med = statistics.median(change)
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    gain = sign * (med - mid)
    ratio = (f"the gain is {gain / iqr:.1f}× the parent's IQR"
             if gain > 0 and iqr > 0 else
             "no gain" if gain <= 0 else "the parent's IQR is 0")
    rel = f"{(med - mid) / mid:+.1%}" if mid else "n/a"
    return (f"{name}: {mid:.4g} [{q1:.4g}–{q3:.4g}, IQR {iqr:.3g}] → "
            f"{med:.4g} {unit} ({rel}, {wins}/{len(base)} pairs; {ratio})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    ap.add_argument("rev", help="git revision for the parent side")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    tmp = tempfile.mkdtemp(prefix="ab-")
    trees = {"base": os.path.join(tmp, "base"),
             "change": os.path.join(tmp, "change")}
    try:
        export(args.rev, trees["base"])
        shutil.copytree(ROOT, trees["change"], ignore=shutil.ignore_patterns(
            ".git", ".cache", ".work", "__pycache__"))
        runs = {"base": [], "change": []}
        for i in range(args.pairs):
            for side in ("base", "change")[::1 if i % 2 == 0 else -1]:
                r = run_once(trees[side], args.workload, i + 1,
                             spec["run_seconds"])
                runs[side].append(r)
                vals = {k: round(v["value"], 4)
                        for k, v in r.get("metrics", {}).items()}
                print(f"pair {i + 1} {side:<6} correct={r.get('correct')} "
                      f"failed={r.get('failed')} {vals}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{args.workload}: {args.rev} → working tree, {args.pairs} "
          f"interleaved pairs (seeds 1–{args.pairs}), cpus {cpus}, "
          f"loadavg {load_start[0]:.2f} → {os.getloadavg()[0]:.2f}")
    for side, label in (("base", args.rev), ("change", "working tree")):
        bad = sum(not r.get("correct") for r in runs[side])
        failed = sum(r.get("failed", 0) for r in runs[side])
        print(f"  {label}: {bad} runs not correct, {failed} failed "
              f"iterations")
    for m in metrics:
        pairs = [(b["metrics"][m["name"]]["value"],
                  c["metrics"][m["name"]]["value"])
                 for b, c in zip(runs["base"], runs["change"])
                 if m["name"] in b.get("metrics", {})
                 and m["name"] in c.get("metrics", {})]
        if not pairs:
            print(f"  {m['name']}: no complete pair")
            continue
        base, change = map(list, zip(*pairs))
        print("  " + summary(m["name"], m["unit"], m["better"], base,
                             change))
    return 0


if __name__ == "__main__":
    sys.exit(main())
