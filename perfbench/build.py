#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM driver (`perfbench/scala`) with the Scala compiler that
ships among Spark's jars, and packs the classes and `src/main/resources`
into one jar.

Usage: python3 perfbench/build.py   (from the repository root)

The jar lands in `.bench_build/perfbench/<source hash>/perfbench.jar` and is
reused while no source changes; older builds are removed. Spark's jars are
found through `SPARK_HOME`, or else through the `unmanagedBase` the
repository's `build.sbt` declares.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def sources(root):
    """(Scala sources, resource files) of the engine and the driver."""
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise RuntimeError(f"engine sources missing: {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    res = os.path.join(root, "src", "main", "resources")
    resources = sorted(f for f in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(f))
    return files, resources


def build_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def build(root, log=sys.stderr):
    """Compile and pack if needed; returns the jar's path."""
    files, resources = sources(root)
    h = hashlib.sha256()
    for f in files + resources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(root), h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    if os.path.exists(jar):
        return jar
    for old in glob.glob(os.path.join(build_dir(root), "*", "perfbench.jar")):
        shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    classes = os.path.join(tmp, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jars = spark_jars(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + proc.stdout[-4000:])
    res = os.path.join(root, "src", "main", "resources")
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, res):
            for f in sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True)):
                if os.path.isfile(f):
                    z.write(f, os.path.relpath(f, base))
    shutil.rmtree(classes)
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
