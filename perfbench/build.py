#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) into `.bench_build/classes` with the Scala 2.13
compiler, against the Spark jars the engine's own build (build.sbt) uses.

Run from the root of a checkout:  python3 perfbench/build.py
Prints the runtime classpath on success. A stamp over every source file's
content makes a rebuild happen only when a source changed.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

SCALA_VERSION = "2.13.17"
BUILD = ".bench_build"


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the engine build's
    own `unmanagedBase` (build.sbt), so both builds compile against the
    same jars."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open("build.sbt").read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def compiler_jars():
    """scala-compiler and scala-reflect of SCALA_VERSION from the local
    coursier or ivy cache (the same artifacts sbt resolves offline)."""
    home = os.path.expanduser("~")
    roots = [os.path.join(home, ".cache", "coursier"),
             os.path.join(home, ".ivy2"), os.path.join(home, ".sbt")]
    found = {}
    for art in ("scala-compiler", "scala-reflect"):
        name = f"{art}-{SCALA_VERSION}.jar"
        for r in roots:
            hits = glob.glob(os.path.join(r, "**", name), recursive=True)
            if hits:
                found[art] = sorted(hits)[0]
                break
        if art not in found:
            raise SystemExit(f"build: {name} not in the local caches")
    return [found["scala-compiler"], found["scala-reflect"]]


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not srcs or not own:
        raise SystemExit("build: engine or benchmark sources missing")
    return srcs + own


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = f"{os.path.abspath(classes)}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    lib = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler_jars() + lib),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", f"{jars}/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
