#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources from the
repository root together with the harness under marketbench/src.

    python3 marketbench/build.py      # prints the runtime classpath

The Scala compiler that ships with Spark runs in a plain JVM against the
Spark jars (`$SPARK_HOME/jars`, default /opt/spark/jars). No build tool,
dependency cache or home directory is involved, so the build reads only
the sources and the jars and writes only under marketbench/target. The
result is cached there, keyed by a hash of the sources and of this file.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
SCALAC_OPTS = ["-deprecation", "-nowarn"]
TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {d}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError("engine sources (src/main/scala/graft) not found; run from the repo root")
    return sorted(os.path.join(d, f) for r in (ENGINE_SRC, HARNESS_SRC)
                  for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))


def stamp(srcs):
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(log=lambda m: None):
    """Compile once per source state; return the runtime classpath."""
    srcs, jars = sources(), spark_jars()
    key = stamp(srcs)
    classes = os.path.join(TARGET, "classes")
    stamp_file = os.path.join(TARGET, "stamp.txt")
    runtime = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return runtime
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Scala compiler, library and reflect jars are not among the Spark jars")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    staging = os.path.join(TARGET, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = (["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TARGET}",
            "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main"]
           + SCALAC_OPTS + ["-d", staging, "-classpath", os.pathsep.join(jars), "@" + argfile])
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BuildError("the compiler exceeded the time limit")
    if p.returncode != 0:
        sys.stderr.write("\n".join(out.splitlines()[-40:]) + "\n")
        raise BuildError(f"the compiler exited with {p.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(key)
    log(f"compiled in {time.time() - t0:.0f} s")
    return runtime


if __name__ == "__main__":
    try:
        print(classpath(lambda m: print(m, file=sys.stderr)))
    except BuildError as e:
        print(f"error: {e}", file=sys.stderr)
        sys.exit(2)
