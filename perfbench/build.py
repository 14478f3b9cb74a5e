#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark driver (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, so neither sbt nor `build.sbt` is involved.

Usage: python3 perfbench/build.py

Run from the repository root. It builds into $CARGO_TARGET_DIR, or
`.bench_build` when that is unset, and prints the runtime classpath. A
build whose inputs are unchanged is skipped: the stamp file holds a hash
of every source file and of the jar list.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, or next to the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    d = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(d):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return d


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    tool = ":".join(glob.glob(os.path.join(jars, f"{j}-2.13*.jar"))[0]
                    for j in SCALA_JARS)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData", "-cp", tool, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed for {out}")


def build():
    """Compile if needed; return the runtime classpath and whether it compiled."""
    out = os.path.abspath(build_dir())
    jars = spark_jars()
    engine_src = sources("src/main/scala")
    bench_src = sources("perfbench/src")
    if not engine_src:
        raise SystemExit("build: no engine sources under src/main/scala; "
                         "run from the repository root")
    h = hashlib.sha256()
    for f in engine_src + bench_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    engine_cls = os.path.join(out, "classes", "engine")
    bench_cls = os.path.join(out, "classes", "bench")
    stamp = os.path.join(out, "classes", "STAMP")
    cp = f"{bench_cls}:{engine_cls}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp, False
    if os.path.exists(stamp):
        os.remove(stamp)
    for d in (engine_cls, bench_cls):
        subprocess.run(["rm", "-rf", d], check=True)
    scalac(jars, f"{jars}/*", engine_cls, engine_src)
    scalac(jars, f"{engine_cls}:{jars}/*", bench_cls, bench_src)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp, True


if __name__ == "__main__":
    print(build()[0])
