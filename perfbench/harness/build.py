#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program (`src/main/scala` of the checkout) together with the
harness sources (`perfbench/harness/src`) into `.bench_build/classes` with
the Scala compiler that ships in Spark's jar directory, so a build needs
neither sbt nor a network. A stamp of the source contents skips a build
whose inputs have not changed.

    python3 perfbench/harness/build.py            # from the checkout root
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars() -> str:
    """Spark's jar directory: under SPARK_HOME, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources() -> list:
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build() -> str:
    """Returns the classes directory, compiling first if the sources changed."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise RuntimeError(f"no program sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(BUILD, "classes.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if fh.read().strip() == stamp:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    with open(stamp_path, "w") as fh:
        fh.write(stamp + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
