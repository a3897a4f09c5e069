#!/usr/bin/env python3
"""Paired parent-vs-change comparison on one workload.

    python3 benchmark/paired.py --a PARENT_CHECKOUT --b CHANGE_CHECKOUT \
        --workload lake_rw --seeds 1,2,3,4,5,6,7,8,9,10 --seconds 12

For each seed, runs the benchmark in both checkouts, alternating which
side goes first (A B, then B A, ...), so slow drift of the machine falls
on both sides alike. Prints, per metric, each side's median and
quartiles, the change's median as a share of the parent's, and how many
pairs the change won (ties count for neither side).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harness.metrics import END_TO_END, PER_LAYER  # noqa: E402
from harness.stats import iqr_share  # noqa: E402

BETTER = {m[0]: m[2] for m in END_TO_END} | {m[0]: m[2] for m in PER_LAYER}


def run(checkout, workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{checkout} seed {seed} failed:\n{out.stderr[-2000:]}")
    r = json.loads(out.stdout.strip().splitlines()[-1])
    if not r["correct"]:
        sys.exit(f"{checkout} seed {seed}: correctness gate failed")
    return {k: v["value"] for k, v in r["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="parent checkout")
    ap.add_argument("--b", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    res = {"a": [], "b": []}
    for i, seed in enumerate(seeds):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        for side in order:
            res[side].append(run(getattr(a, side), a.workload, seed, a.seconds, a.trace))
            print(f"seed {seed} {side}: {res[side][-1]}", file=sys.stderr, flush=True)
    for m in res["a"][0]:
        va, vb = [r[m] for r in res["a"]], [r[m] for r in res["b"]]
        sign = 1 if BETTER.get(m, "lower") == "higher" else -1
        wins = sum(1 for x, y in zip(va, vb) if sign * (y - x) > 0)
        q = lambda v: statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3  # noqa: E731
        qa, qb = q(va), q(vb)
        ma = statistics.median(va)
        spread = iqr_share(va) if len(va) > 1 and ma else float("nan")
        print(f"{m}: parent {ma:.6g} [{qa[0]:.6g}, {qa[2]:.6g}] (spread {spread:.3f})  change "
              f"{statistics.median(vb):.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  "
              f"ratio {statistics.median(vb) / ma if ma else float('nan'):.3f}  "
              f"change won {wins}/{len(seeds)}")


if __name__ == "__main__":
    main()
