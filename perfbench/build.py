#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala at the
repository root) together with the benchmark's own sources (perfbench/src)
into .bench_build/classes-<hash>/, with the Scala compiler that ships among
Spark's jars. Nothing is fetched. A build whose sources are unchanged is
reused.

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME/jars, else
    the one beside `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            jars = os.path.join(home, "jars")
            return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit("perfbench: library sources src/main/scala not found")
    found = []
    for top in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + jars:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    tmp = "%s.tmp%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    t0 = os.times().elapsed
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for old in os.listdir(OUT):  # builds of other sources
        if old.startswith("classes-") and os.path.join(OUT, old) != classes:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    print("perfbench: built %s in %.0f s" % (classes, os.times().elapsed - t0), file=sys.stderr)
    return classes


if __name__ == "__main__":
    print(build())
