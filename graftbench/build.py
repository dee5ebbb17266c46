"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (graftbench/harness) with the Scala compiler that ships in the
Spark distribution, into graftbench/.work/build/<source hash>/classes.

    python3 graftbench/build.py        # from the repository root

A build is reused while no source file changes. Spark is found through
SPARK_HOME, else through `spark-submit` on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("graftbench: no Spark jars under %s (set SPARK_HOME)" % jars)
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("graftbench: no engine sources under %s/src/main/scala" % root)
    return engine + sorted(glob.glob(os.path.join(BENCH, "harness/**/*.scala"), recursive=True))


def build(root):
    """Return the classes directory for the current sources, compiling if
    needed (about half a minute on 4 cores)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BENCH, ".work", "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    jars = spark_jars()
    tmp = "%s.tmp%d" % (out, os.getpid())
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("graftbench: compile failed (exit %d)" % r.returncode)
    os.makedirs(out, exist_ok=True)
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build published the same sources first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
