"""Builds the program and the benchmark's JVM harness from source.

    python3 perfbench/build.py          (from the repository root)

The program (`src/main/scala`) compiles with the Scala 2.13 compiler that
ships in the Spark distribution's jars, against those same jars, into
`perfbench/.build/app`; the harness (`perfbench/scala`) compiles against
that into `perfbench/.build/bench`. Each step is skipped when a digest of
its inputs matches the one recorded by the last successful build. The
Spark distribution is `$SPARK_HOME` (default `/opt/spark`).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(BENCH, ".build")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, dest, classpath, digest):
    stamp = dest + ".digest"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build failed: {dest}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def ensure(root):
    """Build what is out of date; return the runtime classpath."""
    src = _sources(os.path.join(root, "src", "main", "scala"))
    if not src:
        raise SystemExit("no program sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    app, bench = os.path.join(OUT, "app"), os.path.join(OUT, "bench")
    app_digest = _digest(src)
    _compile(src, app, jars, app_digest)
    bsrc = _sources(os.path.join(BENCH, "scala"))
    _compile(bsrc, bench, f"{jars}:{app}", _digest(bsrc, app_digest))
    return f"{bench}:{app}:{jars}"


if __name__ == "__main__":
    print(ensure(os.getcwd()))
