#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine's sources (src/main/scala) together with the harness
(perfbench/src) in one scalac pass, using the Scala compiler and the Spark
jars that the engine's own build.sbt runs against. Output is one jar in
$CARGO_TARGET_DIR (default .bench_build) named by a digest of every source
file, so an unchanged tree is never rebuilt and a changed one always is. A
jar rather than a class directory, because the JVM's class-data sharing
(see run.py) archives classes only from jars.

    python3 perfbench/build.py          # prints the jar
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    out = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        for dirpath, _, files in os.walk(top):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def require_engine():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: engine sources not found under src/main/scala")


def build(log=sys.stderr):
    """Returns the harness jar, compiling first if the sources changed."""
    require_engine()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    base = build_dir()
    stem = "harness-" + digest.hexdigest()[:16]
    jar = os.path.join(base, stem + ".jar")
    if os.path.isfile(jar):
        return jar
    os.makedirs(base, exist_ok=True)
    # older builds, and the class-data archives made from them
    for old in os.listdir(base):
        if old.startswith("harness-"):
            os.remove(os.path.join(base, old))
    tmp = tempfile.mkdtemp(prefix="compiling-", dir=base)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    out = os.path.join(tmp, "harness.jar")
    print(f"perfbench: compiling {len(srcs)} sources", file=log)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", jars, "-d", out, "@" + argfile],
        stdout=log, stderr=log, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: scalac failed with code {proc.returncode}")
    os.rename(out, jar)
    shutil.rmtree(tmp, ignore_errors=True)
    return jar


if __name__ == "__main__":
    print(build())
