"""Build file of the benchmark.

Compiles the repository's main Scala sources together with the
benchmark's own sources (perfbench/scala) into one classes directory,
with the Scala compiler and the jars of the Spark installation (the same
jars the sbt build compiles against). A stamp of the source contents
makes a second build with unchanged sources a no-op.

    python3 perfbench/build.py            # prints the classpath to run with
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def jars_dir():
    return os.path.join(spark_home(), "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return main, bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classpath, source hash); compiles when the sources changed."""
    main, bench = sources()
    if not main:
        raise SystemExit("build: no Scala sources under src/main/scala (run from the repository root)")
    digest = source_hash(main + bench)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "stamp")
    jars = jars_dir()
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath, digest
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar")) for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"build: no Scala 2.13 compiler jars in {jars}")
    fresh = classes + ".tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", fresh] + main + bench
    print(f"build: compiling {len(main)} + {len(bench)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(fresh, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath, digest


if __name__ == "__main__":
    print(build()[0])
