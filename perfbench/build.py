#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program (`src/main/scala`) and the benchmark's code
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's jar directory, so no sbt, network or dependency cache is
needed. Output goes under `.bench_build/perfbench/` in the current
directory (the root of a checkout). Each stage is keyed by a hash of its
sources and rebuilt only when they change.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT_ROOT = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(name, sources, classpath, key, log):
    out = os.path.join(OUT_ROOT, name)
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", classes] + sources
    log(f"[perfbench] compiling {name}: {len(sources)} files")
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BuildError(f"scalac failed for {name}")
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build(log=lambda m: sys.stderr.write(m + "\n")):
    """Compile program and benchmark; return the runtime classpath."""
    prog_src = _sources(os.path.join("src", "main", "scala"))
    if not prog_src or not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        raise BuildError("no program sources under src/main/scala/graft "
                         "(run from the root of a graft checkout)")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    spark_cp = os.path.join(SPARK_JARS, "*")
    prog_key = _digest(prog_src)
    prog = _compile("program", prog_src, spark_cp, prog_key, log)
    prog_classes = os.path.join(prog, "classes")
    bench_src = _sources(os.path.join(BENCH_DIR, "src"))
    bench = _compile("bench", bench_src, prog_classes + os.pathsep + spark_cp,
                     _digest(bench_src, prog_key), log)
    return os.pathsep.join([os.path.join(bench, "classes"), prog_classes, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        sys.exit(2)
