"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into one class directory, with the Scala compiler that ships among the
Spark jars, the same jars `build.sbt` compiles against.

The class directory is named after a hash of every source file and
reused while it exists, so only the first run in a checkout compiles.
It lives under $CARGO_TARGET_DIR (default `.bench_build`); builds of
other sources keep their own directories there.

Usage: python3 perfbench/build.py  (prints the class directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars in '{jars}' (set SPARK_HOME)")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no program sources under {MAIN_SRC}")
    return files + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                                    recursive=True))


def build():
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    # A private staging directory per process: a concurrent build of the
    # same sources in a shared build directory never touches it.
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    try:
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):  # else another build finished first
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
