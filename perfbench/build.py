#!/usr/bin/env python3
"""Build graft and the benchmark from source with the Scala compiler that
ships in Spark's jars directory.

    python3 perfbench/build.py          # from the repository root

Compiles src/main/scala and perfbench/src into
<build dir>/perfbench/classes-<source hash>/ and prints that path. The build
dir is $CARGO_TARGET_DIR, or .bench_build. An unchanged source tree reuses
the earlier output."""

import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars dir, from $SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler: set SPARK_HOME "
                         "or put spark-submit on PATH")
    return jars


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(lib) or not os.path.isdir(bench):
        raise BuildError(f"graft sources not found under {root}")
    return sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def build(root):
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(os.path.relpath(f, root).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = build_dir(root)
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("".join(f'"{f}"\n' for f in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
