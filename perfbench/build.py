"""Build file of the benchmark: compiles graft and the benchmark harness.

The program (`src/main/scala`) and the harness (`perfbench/harness`) are
compiled together with the Scala compiler that ships in the Spark
distribution's jars, against those same jars, into
`<build dir>/classes`. A stamp of every source file's content lets
repeated runs reuse the classes; any source change rebuilds.

    python3 perfbench/build.py [build dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that resolves into a distribution with a Scala
    compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("[perfbench] no Spark distribution with a Scala compiler "
             "(set SPARK_HOME)")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala",
                                            "**", "*.scala"), recursive=True))
    if not program:
        sys.exit(f"[perfbench] no program sources under {ROOT}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "harness",
                                            "*.scala")))
    return program + harness


def build(build_dir):
    """Return the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    os.makedirs(build_dir, exist_ok=True)
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", fresh] + srcs,
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        sys.exit(f"[perfbench] compile failed rc={r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else ".bench_build"))[0])
