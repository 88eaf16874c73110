#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload olap_sessions --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark (perfbench/build.py; a no-op when the
sources are unchanged), then runs the workload in one JVM on local[N],
N = min(4, CPUs). Every file the run writes lives under .bench_build/ in
the checkout and the run's own directory is removed at the end. The last
line of standard output is the JSON result; the lines before it print
every metric with its unit and sample count.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["olap_sessions", "table_churn", "ingest_dedup"]
# Spark on JDK 17 needs these outside spark-submit (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs, one set-up (self-check only)")
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(build.ROOT, ".bench_build", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = max(1, min(4, os.cpu_count() or 1))
    # C1 only: on runs this short, C2 compilations were a large and
    # run-to-run variable share of the process's CPU time
    # (-XX:-UsePerfData: no hsperfdata file outside the checkout)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" +
            os.path.join(build.BENCH_DIR, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", a.scale, "--cores", str(cores), "--work", work,
              "--spec", os.path.join(build.ROOT, "BENCHMARK.json")])
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)

    def stop(*_):
        # the JVM runs in its own session: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
        stop()
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
