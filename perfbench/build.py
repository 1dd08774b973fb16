#!/usr/bin/env python3
"""Builds graft and the benchmark harness from source.

    python3 perfbench/build.py [ROOT]

Compiles the library (`ROOT/src/main/scala`) together with the harness
(`perfbench/src`) in one scalac run, against the Spark jars the
project's build.sbt declares (or `$SPARK_HOME/jars`). Output goes to
`ROOT/.bench_build/classes-<hash>`, where the hash covers every source
file and the jar list, so an unchanged tree builds once. Prints the
classes directory. Exits non-zero, without output on stdout, when the
library sources or the toolchain are missing.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jar directory: `$SPARK_HOME/jars`, else the
    `unmanagedBase` of the project's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        raise SystemExit(f"build: no library sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return lib + own


def build(root):
    root = os.path.abspath(root)
    jars = spark_jars(root)
    srcs = sources(root)
    jar_list = sorted(os.listdir(jars))
    h = hashlib.sha256("\n".join(jar_list).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, jars
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    comp = [os.path.join(jars, j) for j in jar_list
            if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)]
    if len(comp) != 3:
        raise SystemExit("build: scala 2.13 compiler jars not found among the Spark jars")
    args_file = os.path.join(out_root, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-Xss8m", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    open(os.path.join(out, ".ok"), "w").close()
    return out, jars


if __name__ == "__main__":
    classes, _ = build(sys.argv[1] if len(sys.argv) > 1 else os.getcwd())
    print(classes)
