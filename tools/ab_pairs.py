#!/usr/bin/env python3
"""A/B the benchmark: alternating parent/change pairs of perfbench/run.py.

    python3 tools/ab_pairs.py --workload olap_sessions --seed 1 --pairs 10 \\
        --parent HEAD~1 --change . --workdir /tmp/ab

`--parent` and `--change` each name a git revision of this repository or
an existing directory holding a checkout (`.` is the working tree). A
revision is exported with `git archive` into `<workdir>/<side>-<rev>`, a
directory that must lie outside the repository, so both sides run the
committed files of that revision and each keeps its own `.bench_build/`.
Both sides are built before the first timed run. Pair i runs the parent
first when i is even and the change first when i is odd.

For every metric a run prints the report gives each side's median
and quartiles, the change in the median, and how many pairs the change
won (the direction comes from BENCHMARK.json; ties count for neither
side). Every run lasts BENCHMARK.json's `run_seconds`. A gain is claimed
only when the change wins at least 9 of every 10 pairs run (a pair in
which either side fails or answers wrongly is no win), the change has no
more failed runs than the parent, and the medians differ by more than the
parent's interquartile range. The raw
results of every run go to `<workdir>/ab-<workload>-<seed>-t<trace>.json`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(spec, side, workdir):
    """A directory holding the tree `spec` names (a path or a revision)."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", spec],
                         check=True, capture_output=True, text=True).stdout.strip()
    out = os.path.join(workdir, "%s-%s" % (side, rev))
    if not os.path.isdir(out):
        os.makedirs(out + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", out + ".tmp"], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit("ab_pairs: git archive %s failed" % rev)
        os.rename(out + ".tmp", out)
    return out


def run(tree, a):
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"ok": False, "code": p.returncode, "stderr": p.stderr[-2000:]}
    res = json.loads(lines[-1])
    # the report lines ("metric <name> <value> <unit> n=<k>") carry the
    # workload's own figures too; the scored JSON values take precedence
    metrics = {}
    for l in p.stdout.splitlines():
        f = l.split()
        if len(f) >= 3 and f[0] == "metric":
            try:
                metrics[f[1]] = float(f[2])
            except ValueError:
                pass
    metrics.update({k: v["value"] for k, v in res["metrics"].items()})
    return {"ok": bool(res.get("correct")), "attempted": res.get("attempted"),
            "failed": res.get("failed"), "metrics": metrics}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def benchmark():
    """The run length BENCHMARK.json scores, and each metric's direction."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["run_seconds"], {
        m["name"]: m["better"]
        for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def report(runs, better):
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p["ok"] and c["ok"]]
    bad = {s: sum(not r["ok"] for r in runs[s]) for s in runs}
    print("pairs with both sides correct: %d of %d (failed runs: parent %d, "
          "change %d)" % (len(pairs), len(runs["parent"]), bad["parent"],
                          bad["change"]))
    if not pairs:
        return
    names = sorted(set(pairs[0][0]["metrics"]) & set(pairs[0][1]["metrics"]))
    print("%-32s %14s %23s %14s %23s %8s %5s %s" % (
        "metric", "parent p50", "parent [q1, q3]", "change p50",
        "change [q1, q3]", "delta", "wins", "gain"))
    for m in names:
        ps = [p["metrics"][m] for p, _ in pairs]
        cs = [c["metrics"][m] for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        lower = better.get(m, "higher" if m.endswith("_per_s") else "lower") == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
        claim = (wins * 10 >= 9 * len(runs["parent"]) and
                 bad["change"] <= bad["parent"] and abs(cm - pm) > p3 - p1 and
                 ((cm < pm) if lower else (cm > pm)))
        delta = "%+.1f%%" % (100.0 * (cm - pm) / pm) if pm else "n/a"
        print("%-32s %14.6g [%10.6g, %10.6g] %14.6g [%10.6g, %10.6g] %8s %2d/%-2d %s" % (
            m, pm, p1, p3, cm, c1, c3, delta, wins, len(runs["parent"]),
            "yes" if claim else "no"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workdir", required=True,
                    help="where revisions are exported (outside the repository)")
    a = ap.parse_args()
    a.seconds, better = benchmark()
    workdir = os.path.abspath(a.workdir)
    if os.path.commonpath([workdir, ROOT]) == ROOT:
        sys.exit("ab_pairs: --workdir must lie outside the repository")
    os.makedirs(workdir, exist_ok=True)

    trees = {"parent": checkout(a.parent, "parent", workdir),
             "change": checkout(a.change, "change", workdir)}
    for side, tree in trees.items():
        print("%s: %s" % (side, tree), flush=True)
        subprocess.run([sys.executable, os.path.join(tree, "perfbench", "build.py")],
                       cwd=tree, check=True)
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run(trees[side], a))
        print("pair %d/%d done" % (i + 1, a.pairs), flush=True)
        out = os.path.join(workdir, "ab-%s-%d-t%d.json" % (a.workload, a.seed, a.trace))
        with open(out, "w") as fh:
            json.dump({"args": vars(a), "trees": trees, "runs": runs}, fh, indent=1)
    report(runs, better)


if __name__ == "__main__":
    main()
