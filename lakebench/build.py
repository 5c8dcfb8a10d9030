#!/usr/bin/env python3
"""Build file of the lake benchmark.

Compiles the engine from source (src/main/scala plus its resources) and
the benchmark harness (lakebench/src) into one class directory, with the
Scala compiler that ships among Spark's jars. The build is skipped when
a stamp of every input still matches.

    python3 lakebench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "lakebench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")

# Spark on JDK 17 needs these when the session starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


# the compiler process while it runs, so that a stopped caller can stop it
running = []


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return jars


def _files(root, exts=None):
    """Files under root (none if it is missing), optionally by suffix."""
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names
                if exts is None or n.endswith(exts)]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Return the class directory, compiling first if an input changed."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("no engine sources at src/main/scala")
    sources = _files(ENGINE_SRC, (".scala", ".java")) + \
        _files(HARNESS_SRC, (".scala",))
    resources = _files(ENGINE_RES)
    stamp = _stamp(sources + resources)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes

    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-usejavacp:false", "-classpath",
                            os.pathsep.join(jars), "-d", tmp] + sources))
    print(f"[lakebench] compiling {len(sources)} sources", file=sys.stderr)
    # compiler output goes to stderr: stdout carries only the result line
    proc = subprocess.Popen(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile],
        stdout=sys.stderr)
    running.append(proc)
    try:
        if proc.wait() != 0:
            raise BuildError("scalac failed")
    finally:
        running.remove(proc)
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[lakebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
