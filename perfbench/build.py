"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark driver (`perfbench/scala`)
into `<build dir>/classes`, with the Scala compiler that ships in Spark's
jars directory, so that neither sbt nor a network is needed.

    python3 perfbench/build.py [--build-dir .bench_build]

The build is skipped when a stamp over every source file's path and
contents matches the last successful build.
"""

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """Spark's jars directory, which also holds the Scala compiler:
    `$SPARK_HOME/jars`, else the first one next to a `spark-submit` on the
    PATH that has one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"build: program sources not found under {main}")
    files = []
    for base in (main, os.path.join(ROOT, "perfbench", "scala")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Returns (classes dir, Spark jars dir, source digest)."""
    jars = spark_jars()
    files = sources()
    digest = stamp(files, jars)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return classes, jars, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(digest)
    return classes, jars, digest


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-dir", default=os.path.join(ROOT, ".bench_build"))
    a = ap.parse_args()
    os.makedirs(a.build_dir, exist_ok=True)
    print(build(a.build_dir)[0])
