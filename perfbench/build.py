#!/usr/bin/env python3
"""Build file of the benchmark harness: compiles the program's sources
(`src/main/scala`) together with `perfbench/harness` into one class
directory, with the Scala compiler among the Spark jars build.sbt names.

Usage: python3 perfbench/build.py [build_dir]   (default: $CARGO_TARGET_DIR,
else .bench_build)

A build is skipped when the class directory was made from the same
sources (a digest of every source file is kept beside it).
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    """$CARGO_TARGET_DIR (relative paths taken from the repository root),
    else .bench_build."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def spark_jars():
    """The jars of the program's own build: the `unmanagedBase` directory
    that build.sbt names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return sorted(glob.glob(os.path.join(m.group(1), "*.jar")))


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(build_dir):
    """Compile if needed; return the class directory."""
    srcs = sources()
    if not any(s.endswith("graft/SparkEntry.scala") for s in srcs):
        raise SystemExit("build: the program's sources (src/main/scala) are missing")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("build: the Scala compiler jars are not among the build's jars")
    if os.path.exists(stamp):
        os.remove(stamp)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("build: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else build_dir()))
