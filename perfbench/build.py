#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes` under the checkout root. A stamp over the source
contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (from the checkout root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


class CompileError(Exception):
    pass


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler:
    $SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt
    compiles against."""
    cands = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            cands += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise CompileError("no Spark jar directory with a Scala compiler "
                       "(set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise CompileError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(SOURCE_DIRS[0]) for p in out):
        raise CompileError("no graft sources under src/main/scala")
    return sorted(out)


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise CompileError(f"scalac exited {r.returncode}")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except CompileError as e:
        sys.exit(f"[perfbench] build failed: {e}")
