#!/usr/bin/env python3
"""Compile the engine (`src/main/scala`) and the benchmark harness
(`perfbench/src`) into one class directory with the Scala compiler that
ships in the Spark distribution's jars.

Usage: build.py [repo_root]   prints the class directory

The output lands in `perfbench/_work/classes-<source hash>`, so an unchanged
tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the sbt build declares as `unmanagedBase`."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME"):
        with open(os.path.join(HERE, "..", "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else jars
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(root):
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(HERE, "_work", f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(HERE, "_work", "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, ".."))))
