#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result line.

    python3 perfbench/run.py --workload knn_search --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. It builds graft and the benchmark from
source when they are stale (perfbench/build.py), starts one JVM with a
local Spark session, and relays that JVM's output. The last line of stdout
is the JSON result; on any failure the script exits non-zero without one.
With --trace 1 it also prints how the traced run's end-to-end figures
differ from the latest untraced run of the same workload (the tracing
overhead). Everything it writes goes under .bench_build/.
"""
import argparse
import glob
import json
import os
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["knn_search", "index_build"]
RUN_TIMEOUT_S = 170
PREFIX = "GRAFTBENCH_RESULT "
OUT = os.path.join(build.ROOT, ".bench_build", "out")

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cores = min(4, os.cpu_count() or 1)
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", classpath, "graftbench.Main", "--out", OUT, "--cores", str(cores)] + args)


def run_jvm(cmd):
    """Runs the JVM in its own process group; returns (exit code, result)."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "work", "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT, env=env,
                            start_new_session=True)
    result = None
    try:
        timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        for line in proc.stdout:
            if line.startswith(PREFIX):
                result = line[len(PREFIX):].strip()
            else:
                sys.stdout.write(line)
        code = proc.wait()
        timer.cancel()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return code, result


def overhead(workload, seed):
    """Traced-minus-untraced end-to-end figures against the latest untraced run."""
    traced = os.path.join(OUT, "results", f"{workload}-seed{seed}-trace1.json")
    plain = sorted(glob.glob(os.path.join(OUT, "results", f"{workload}-seed*-trace0.json")),
                   key=os.path.getmtime)
    same = os.path.join(OUT, "results", f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(same):
        plain.append(same)
    if not plain or not os.path.exists(traced):
        print("  overhead: no untraced run of this workload to compare with")
        return
    t = json.load(open(traced))["e2e"]
    u = json.load(open(plain[-1]))["e2e"]
    print(f"  tracing overhead vs {os.path.basename(plain[-1])} (traced - untraced):")
    for k in t:
        if k in u and u[k]:
            print(f"  overhead {k:<28} {t[k] - u[k]:+.6f} ({(t[k] - u[k]) / u[k]:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[run] build failed: {e}", file=sys.stderr)
        return 1
    if a.selftest:
        args = ["--workload", "selftest", "--seed", "0", "--seconds", "0"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    code, result = run_jvm(jvm_command(cp, args))
    if code != 0:
        print(f"[run] benchmark JVM exited with {code}", file=sys.stderr)
        return 1
    if a.selftest:
        return 0
    if result is None:
        print("[run] no result line", file=sys.stderr)
        return 1
    parsed = json.loads(result)
    if a.trace == 1:
        overhead(a.workload, a.seed)
    print(json.dumps(parsed), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
