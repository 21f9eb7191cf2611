#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

Compiles the engine's sources (src/main/scala) together with the
harness (graftbench/scala) into .bench_build/classes with the Scala
compiler that ships among the Spark jars, against those jars. The
Spark install is $SPARK_HOME, or the one `spark-submit` on PATH belongs
to. A digest of every source file skips the compile when nothing
changed.

Usage, from the repository root:  python3 graftbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("graftbench: no Spark install found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources(root):
    found = []
    for d in ("src/main/scala", "graftbench/scala"):
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root):
    """Returns the classes directory, compiling first if needed."""
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"graftbench: no engine sources under {engine}")
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out

    compiler = [os.path.join(jars, f) for f in os.listdir(jars)
                if f.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit(f"graftbench: no Scala compiler among the jars in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-usejavacp:false", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", tmp, "@" + argfile],
        check=True, stdout=sys.stderr)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
