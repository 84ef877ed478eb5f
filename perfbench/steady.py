#!/usr/bin/env python3
"""Measure how steady the benchmark's end-to-end metrics are across seeds.

    python3 perfbench/steady.py --workloads facade_mixed analytic_sf01 --runs 10 \
        --out perfbench/steadiness/run1.json

Runs run.py once per (workload, seed), one after another, and prints for
every end-to-end metric the median, the first and third quartiles
(statistics.quantiles(values, n=4)) and the spread (q3 - q1) / median, next
to the metric's bound from BENCHMARK.json. Raw values go to --out as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    summary = {}
    for w in a.workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.0f} s, failed {res['failed']}/{res['attempted']}",
                  flush=True)
        raw[w] = runs
        summary[w] = {}
        print(f"\n{w} ({len(runs)} runs)")
        print(f"  {'metric':14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[w][name] = {"median": med, "q1": q1, "q3": q3,
                                "spread": (q3 - q1) / med, "bound": bounds[name]}
            print(f"  {name:14} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{(q3 - q1) / med:8.4f} {bounds[name]:6.2f}")
        print(flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump({"seconds": a.seconds, "summary": summary, "runs": raw}, f, indent=1)


if __name__ == "__main__":
    main()
