#!/usr/bin/env python3
"""Build file of the graft benchmark harness.

Compiles the program (`../src/main/scala`, the repository's main sources)
and the harness (`src/`, next to this file) with the Scala compiler that
ships in the Spark distribution's jar directory. Nothing is downloaded.
Each half is rebuilt only when a hash over its sources changes, so a run
after the first in a checkout starts the JVM directly.

    python3 graftbench/build.py          # build (or confirm up to date)

Output goes to `graftbench/.build/` (ignored by git). Exits non-zero when
the program sources, the Spark jars or the compiler are missing.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        spark_submit = shutil.which("spark-submit")
        if spark_submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: the Spark jar directory holds no scala-compiler jar")
    return jars


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", dest, "@" + argfile]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise SystemExit(f"build: scalac failed for {dest} (exit {rc})")


def build():
    """Compile what changed; return (spark jar dir, class directories)."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    stages = [("program", sources(PROGRAM_SRC)), ("harness", sources(BENCH_SRC))]
    done, upstream = [], ""
    for name, files in stages:
        if not files:
            raise SystemExit(f"build: no {name} sources")
        dest = os.path.join(OUT, name)
        stamp = dest + ".stamp"
        key = digest(files, upstream)
        current = open(stamp).read() if os.path.exists(stamp) else ""
        if current != key or not os.path.isdir(dest):
            print(f"build: compiling {name} ({len(files)} files)", file=sys.stderr)
            scalac(jars, done, dest, files)
            with open(stamp, "w") as fh:
                fh.write(key)
        done.append(dest)
        upstream = key
    return jars, done


if __name__ == "__main__":
    build()
