#!/usr/bin/env python3
"""Self-check of the benchmark: a tiny-size run of every workload.

    python3 perfbench/selfcheck.py

For each workload it runs tiny inputs untraced and traced, and asserts:
  - the result line has exactly correct/attempted/failed/metrics, and
    failed = 0 on the default seed;
  - every end_to_end metric of BENCHMARK.json is emitted untraced, and
    every per_layer metric traced, with its declared unit and a finite
    value (end-to-end values also non-zero);
  - every metric has samples (n > 0) except the per-layer metrics a
    workload marks "not exercised", which read 0; and every per-layer
    metric is exercised by at least one workload;
  - the traced run reports the end-to-end figures of the untraced run
    (as traced.<name>), and the tracing overhead is printed as traced /
    untraced;
  - run from a directory holding only BENCHMARK.json and the benchmark
    (no engine sources), run.py exits non-zero without a result line.
Exits non-zero on the first failed assertion.
"""
import json
import math
import os
import shutil
import subprocess
import sys

import spread

ROOT = spread.ROOT
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
DEFAULT_SEED = 1
SECONDS = 3


def fail(msg):
    print("selfcheck: FAIL: " + msg)
    sys.exit(1)


def metrics_ok(res, declared, where, nonzero):
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail("%s: result keys %s" % (where, sorted(res)))
    if res["failed"] != 0 or res["correct"] is not True or res["attempted"] < 1:
        fail("%s: %d of %d checks failed" % (where, res["failed"], res["attempted"]))
    got = res["metrics"]
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            fail("%s: metric %s missing" % (where, m["name"]))
        if v["unit"] != m["unit"]:
            fail("%s: %s unit %s, declared %s" % (where, m["name"], v["unit"], m["unit"]))
        if not math.isfinite(v["value"]) or (nonzero and v["value"] == 0):
            fail("%s: %s value %r" % (where, m["name"], v["value"]))
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        fail("%s: undeclared metrics %s" % (where, sorted(extra)))


def lines(out):
    """The `metric <name> <value> <unit> n=<samples> [(not exercised)]`
    lines of a run, as name -> (value, samples, not exercised)."""
    got = {}
    for l in out.splitlines():
        p = l.split()
        if len(p) >= 5 and p[0] == "metric":
            got[p[1]] = (float(p[2]), int(p[4][2:]), l.endswith("(not exercised)"))
    return got


def report(out):
    """The metric lines of a run, as name -> value."""
    return {k: v[0] for k, v in lines(out).items()}


def samples_ok(res, out, where):
    """Every scored metric has samples, unless marked not exercised (then
    it reads 0); returns the names measured with samples."""
    shown = lines(out)
    measured = set()
    for name in res["metrics"]:
        if name not in shown:
            fail("%s: no report line for %s" % (where, name))
        value, n, skipped = shown[name]
        if skipped and (n != 0 or value != 0):
            fail("%s: %s not exercised but reads %r (n=%d)" % (where, name, value, n))
        if not skipped and n <= 0:
            fail("%s: %s has no samples" % (where, name))
        if not skipped:
            measured.add(name)
    return measured


def main():
    exercised = set()
    for w in [x["name"] for x in SPEC["workloads"]]:
        plain, plain_out = spread.run(w, DEFAULT_SEED, SECONDS, trace=0, scale="tiny")
        traced, out = spread.run(w, DEFAULT_SEED, SECONDS, trace=1, scale="tiny")
        if plain is None or traced is None:
            fail("%s: run failed" % w)
        metrics_ok(plain, SPEC["end_to_end"], w + " untraced", nonzero=True)
        metrics_ok(traced, SPEC["per_layer"], w + " traced", nonzero=False)
        samples_ok(plain, plain_out, w + " untraced")
        exercised |= samples_ok(traced, out, w + " traced")
        shown = {k[len("traced."):]: v for k, v in report(out).items()
                 if k.startswith("traced.")}
        plain_shown = report(plain_out)
        if not set(plain["metrics"]) <= set(shown) <= set(plain_shown):
            fail("%s: traced run reports %s, untraced %s"
                 % (w, sorted(shown), sorted(plain_shown)))
        for m in ("latency_p50_ms", "cpu_ms_per_unit"):
            print("selfcheck: %s tracing overhead %s: traced/untraced = %.3f"
                  % (w, m, shown[m] / plain_shown[m]))
        print("selfcheck: %s ok" % w)
    idle = [m["name"] for m in SPEC["per_layer"] if m["name"] not in exercised]
    if idle:
        fail("per-layer metrics no workload exercises: %s" % idle)

    bare = os.path.join(ROOT, ".bench_build", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    w = SPEC["workloads"][0]["name"]
    r = subprocess.run(SPEC["command"] + ["--workload", w, "--seed", "1",
                       "--seconds", "1", "--trace", "0"], cwd=bare,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or r.stdout.strip():
        fail("without engine sources: exit %d, output %r" % (r.returncode, r.stdout))
    print("selfcheck: without engine sources: exit %d, no result (ok)" % r.returncode)
    print("selfcheck: all ok")


if __name__ == "__main__":
    main()
