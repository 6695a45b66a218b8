#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
shipped among Spark's jars, into .bench_build/perfbench/classes-<hash>.

    python3 perfbench/build.py

The hash covers every source file and the jar list, so an unchanged
tree reuses its classes and a changed one rebuilds. Spark's jars are
taken from $SPARK_HOME/jars, else from the `unmanagedBase` directory the
project's build.sbt names.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jar_dir = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                    f.read()).group(1)
        except (OSError, AttributeError):
            jar_dir = ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        sys.exit("perfbench: no Spark jars with the Scala compiler found; "
                 "set SPARK_HOME")
    return jars


def classpath(classes):
    return os.pathsep.join([classes] + spark_jars())


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        sys.exit("perfbench: program sources not found: " +
                 ", ".join(os.path.relpath(d, ROOT) for d in missing))
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile if needed; return the classes directory."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join(jars)] + files,
        check=True, stdout=sys.stderr)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
