#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in Spark's jar directory, into .bench_build/classes.
The build is skipped while no source changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else next to spark-submit, else pyspark's."""
    def candidates():
        if os.environ.get("SPARK_HOME"):
            yield os.path.join(os.environ["SPARK_HOME"], "jars")
        submit = shutil.which("spark-submit")
        if submit:
            yield os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
        try:
            import pyspark
            yield os.path.join(os.path.dirname(pyspark.__file__), "jars")
        except ImportError:
            pass
    for c in candidates():
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    files = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile program + benchmark sources; skipped when their hash is unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    out = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", out, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail("compilation failed")
    with open(os.path.join(out, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    print(f"# built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def prepare():
    """Check that the checkout holds the program, then build it; returns the
    Spark jar directory and the classes directory.
    """
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    return jars, build(jars)


if __name__ == "__main__":
    prepare()
