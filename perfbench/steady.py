#!/usr/bin/env python3
"""Check that the benchmark is steady: run each workload on several
seeds and report, per end-to-end metric, the median and the spread (the
distance between the first and third quartiles as a share of the
median), next to the metric's bound in BENCHMARK.json.

Usage (from the root of the repository):

    python3 perfbench/steady.py --runs 10 [--first-seed 100] [--workload NAME ...]

Exits 1 if a spread other than setup_s's exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0
    for w in a.workload:
        values = {m: [] for m in bounds}
        for i in range(a.runs):
            seed = a.first_seed + i
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                 str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: outputs incorrect")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        for m, v in values.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q[2] - q[0]) / med
            flag = "" if spread <= bounds[m] / 3 else "  (above a third of the bound)"
            if spread > bounds[m] and m != "setup_s":
                worst = 1
                flag = "  (ABOVE BOUND)"
            print(f"{w:15s} {m:12s} median {med:10.3f}  spread {spread:.3f}  "
                  f"bound {bounds[m]}{flag}  values {[round(x, 3) for x in v]}", flush=True)
    sys.exit(worst)


if __name__ == "__main__":
    main()
