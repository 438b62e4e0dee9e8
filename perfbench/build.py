#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) together with the benchmark's
own sources (``perfbench/src``) straight through the Scala compiler
that ships in the Spark distribution, into ``<build dir>/classes``.
No sbt, no network: the classpath is the Spark jar directory, the
unmanaged classpath ``build.sbt`` compiles the engine against.

The build is skipped when a stamp of every source file's content and
path matches the last successful build, so only the first run in a
checkout pays for it.

    python3 perfbench/build.py            # build if stale, print classes dir
    python3 perfbench/build.py --force    # rebuild unconditionally
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the unmanaged jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise SystemExit("build: no build.sbt and no SPARK_HOME to find the Spark jars")
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("build: build.sbt names no unmanagedBase (set SPARK_HOME)")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: missing source tree {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256(SCALA_VERSION.encode())
    h.update(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(force=False):
    """Returns the classes directory, compiling first when stale."""
    jars = spark_jars()
    files = sources()
    bdir = build_dir()
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    want = stamp(files, jars)
    if not force and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want and os.path.isdir(classes):
                return classes
    if os.path.isdir(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    compiler = [os.path.join(jars, f"{n}-{SCALA_VERSION}.jar")
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    print(build(force="--force" in sys.argv[1:]))
