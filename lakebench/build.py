#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`lakebench/src`) with the Scala compiler that ships in
Spark's jars, into `.bench_build/lakebench-<source hash>/classes`. A
build is reused while the sources and the Spark jars are unchanged.

    python3 lakebench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else pyspark's."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("engine sources src/main/scala not found")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    """Compiles the engine and the harness once per source state."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD, "lakebench-" + stamp)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lakebench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, "BUILT")):
            return out, jars
        for old in glob.glob(os.path.join(BUILD, "lakebench-*")):
            shutil.rmtree(old, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        t0 = time.time()
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
               "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", classes] + srcs
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            raise BuildError("build failed:\n" + r.stdout[-4000:])
        with open(os.path.join(out, "BUILT"), "w") as f:
            f.write(f"{time.time() - t0:.1f}\n")
        log(f"[lakebench] built {len(srcs)} sources in {time.time() - t0:.1f} s")
        return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        log(f"[lakebench] error: {e}")
        sys.exit(2)
