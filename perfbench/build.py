#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) from source with the Scala compiler
that ships in Spark's jars, into .bench_build/ at the root of the checkout.

The output directory is named after a hash of every source file, so an
unchanged tree is built once and reused, and a changed tree is rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed and return the classes directory."""
    program = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = scala_sources(os.path.join(HERE, "src"))
    if not program:
        raise BuildError("no engine sources under src/main/scala: run from a checkout of the repo")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    files = program + bench
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes

    tmp = "%s.tmp-%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    open(os.path.join(tmp, "OK"), "w").close()
    if os.path.exists(out):  # another build of the same tree finished first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, out)
    for d in os.listdir(BUILD_DIR):  # builds of other trees
        if d.startswith("perfbench-") and os.path.join(BUILD_DIR, d) != out and ".tmp-" not in d:
            shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
