#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/harness`) with the Scala compiler that
ships in Spark's jar directory, into `<build>/classes` and
`<build>/harness`. A build is skipped when a stamp of every source file
matches the last successful one.

Usage: build.py [--build-dir DIR]      (default: $CARGO_TARGET_DIR or
                                        .bench_build, relative to the root)
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness")
SCALA = "2.13.17"


def spark_jars():
    """The jar directory of $SPARK_HOME, or of a Spark whose spark-submit
    is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", f"scala-compiler-{SCALA}.jar")):
            return os.path.join(home, "jars")
    sys.exit(f"no Spark jar directory with scala-compiler-{SCALA}.jar (set SPARK_HOME)")


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"compile failed: {out}")


def build(build_dir):
    """Returns the runtime classpath; compiles only what changed."""
    jars = spark_jars()
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_src:
        sys.exit("no engine sources under src/main/scala")
    harness_src = sources(HARNESS)
    classes = os.path.join(build_dir, "classes")
    harness = os.path.join(build_dir, "harness")
    spark_cp = os.path.join(jars, "*")
    for out, files, cp, key in (
            (classes, main_src, spark_cp, "main"),
            (harness, harness_src, os.pathsep.join([classes, spark_cp]), "harness")):
        # the harness stamp covers the engine too: it links against it
        want = stamp(files if key == "main" else main_src + files)
        mark = os.path.join(build_dir, f"{key}.stamp")
        if os.path.exists(mark) and open(mark).read() == want:
            continue
        scalac(jars, cp, out, files)
        with open(mark, "w") as f:
            f.write(want)
    return os.pathsep.join([harness, classes, spark_cp])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-dir", default=os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    a = ap.parse_args()
    os.makedirs(os.path.join(ROOT, a.build_dir), exist_ok=True)
    print(build(os.path.join(ROOT, a.build_dir)))


if __name__ == "__main__":
    main()
