#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships in the Spark jar directory build.sbt names, into a directory keyed
by the hash of every source file. A build whose key is already present is
reused.

Usage: python3 perfbench/build.py   (from the root of a checkout)
Prints the output directory.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

SCALA = "2.13.17"


def sources(root):
    src = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "harness", "*.scala")))
    return src, harness


def spark_jars(root):
    """The jar directory of `unmanagedBase := file("...")` in build.sbt."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(root, out_base):
    """Compile and return the class directory; raise on any failure."""
    jars = spark_jars(root)
    src, harness = sources(root)
    if not src:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    compiler = [os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                for j in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        raise RuntimeError(f"Scala compiler jars not found: {missing}")
    h = hashlib.sha256(SCALA.encode())
    for f in src + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(out_base, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "_BUILT")):
        return out
    tmp = out + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*")] + src + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise RuntimeError("scalac failed")
    open(os.path.join(tmp, "_BUILT"), "w").close()
    subprocess.run(["rm", "-rf", out], check=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build", "perfbench")))
