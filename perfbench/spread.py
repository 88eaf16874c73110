#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload W ...] [--first-seed 1]

Runs each workload once per seed (first-seed, first-seed + 1, ...) with
tracing off, then prints, per metric, the median, the interquartile
range as a share of the median (statistics.quantiles, n=4) and the
metric's bound from BENCHMARK.json. Results are appended as JSON lines
to .bench_build/spread.jsonl.
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


def run(workload, seed, seconds, trace=0, scale="full"):
    """One benchmark run; returns the parsed result line (or None) and
    the run's standard output."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--scale", scale],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stdout
    return json.loads(lines[-1]), p.stdout


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    default=None, choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log = open(os.path.join(ROOT, ".bench_build", "spread.jsonl"), "a")
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            res, _ = run(w, seed, spec["run_seconds"])
            wall = time.time() - t0
            if res is None or res["failed"]:
                print("%s seed %d: run failed or wrong: %s" % (w, seed, res))
                continue
            log.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, **res}) + "\n")
            log.flush()
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            print("%-14s %-18s median %12.4f  iqr/median %.4f  bound %.2f  n=%d"
                  % (w, m, med, (q[2] - q[0]) / med, bounds[m], len(vs)))


if __name__ == "__main__":
    main()
