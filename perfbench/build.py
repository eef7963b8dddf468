#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's sources (src/main/scala of the checkout this directory sits
in) and the benchmark's own sources (perfbench/src) with the Scala compiler
that ships in Spark's jar directory, in two stages so that a change to the
benchmark does not recompile the engine. Each stage is cached under
.bench_build/ by a hash of its inputs.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the engine's
    own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_stage(name, srcs, classpath, jars):
    key = digest(srcs, classpath)
    dest = os.path.join(OUT, f"{name}-{key}")
    if os.path.isfile(os.path.join(dest, ".done")):
        return dest
    if os.path.isdir(OUT):
        for old in os.listdir(OUT):
            if old.startswith(name + "-"):
                shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-cp", classpath, "@" + argfile]
    print(f"[build] compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {name}")
    open(os.path.join(dest, ".done"), "w").close()
    return dest


def build():
    """Compiles what is stale; returns the classpath to run with."""
    if not os.path.isdir(ENGINE_SRC) or not sources(ENGINE_SRC):
        raise BuildError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    engine = compile_stage("engine", sources(ENGINE_SRC), spark_cp, jars)
    bench = compile_stage("bench", sources(BENCH_SRC), os.pathsep.join([engine, spark_cp]), jars)
    parts = [bench, engine]
    if os.path.isdir(ENGINE_RES):
        parts.append(ENGINE_RES)
    return os.pathsep.join(parts + [spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
