#!/usr/bin/env python3
"""Compile the engine and the benchmark from source with Spark's own Scala
compiler, into a cache keyed by a hash of every input.

Usage: python3 ethbench/build.py   (from the root of a checkout)

Prints the classpath entries (engine classes, benchmark classes). The engine
is `src/main/scala` plus `src/main/resources`; the benchmark is
`ethbench/src`. Both compile against `$SPARK_HOME/jars`, which also holds the
Scala 2.13 compiler the engine's build uses.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(BENCH, ".cache")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        raise BuildError("SPARK_HOME must point at a Spark 4 distribution with jars/")
    return jars


def sources(root, exts):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(exts)]
    return sorted(out)


def digest(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, srcs):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.pathsep.join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build(root):
    """Return [engine classes dir, benchmark classes dir], compiling if needed."""
    main = os.path.join(root, "src", "main", "scala")
    res = os.path.join(root, "src", "main", "resources")
    engine_srcs = sources(main, (".scala", ".java"))
    if not engine_srcs:
        raise BuildError(f"no engine sources under {main}")
    bench_srcs = sources(os.path.join(BENCH, "src"), (".scala",))
    resources = sources(res, ("",))
    jars = spark_jars()
    engine_key = digest(engine_srcs + resources + [__file__], root)
    engine = os.path.join(CACHE, "build", "engine-" + engine_key)
    bench = os.path.join(CACHE, "build", "bench-" + digest(bench_srcs, root) + "-" + engine_key)
    if not os.path.exists(os.path.join(engine, "OK")):
        shutil.rmtree(engine, ignore_errors=True)
        scalac(jars, jars, engine, engine_srcs)
        for r in resources:
            dst = os.path.join(engine, os.path.relpath(r, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        open(os.path.join(engine, "OK"), "w").close()
    if not os.path.exists(os.path.join(bench, "OK")):
        shutil.rmtree(bench, ignore_errors=True)
        scalac(jars, jars + [engine], bench, bench_srcs)
        open(os.path.join(bench, "OK"), "w").close()
    return [engine, bench]


if __name__ == "__main__":
    try:
        print("\n".join(build(os.getcwd())))
    except BuildError as e:
        sys.exit(f"build: {e}")
