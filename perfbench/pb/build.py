"""Build file of the benchmark's JVM side.

Compiles the program (`src/main/scala`) and the harness
(`perfbench/harness/src`) together with the Scala compiler that ships
in the Spark distribution, against the same Spark jars the repo's own
build uses. The classes go to `.bench_build/classes-<source hash>`, so
an unchanged tree is built once.

Run directly to build: `python3 perfbench/pb/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PB = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PB)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def sources():
    found = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(PB, "harness", "src")):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s[len(ROOT):].encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(spark_jars(), "*")] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
