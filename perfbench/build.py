#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark jars
directory, into <build>/classes. A content stamp skips an unchanged build.

    python3 perfbench/build.py [build-dir]      # default: .bench_build

Run from the root of a checkout. Spark jars come from $SPARK_HOME/jars
(default /opt/spark/jars).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_sha():
    """Hash of every compiled source file (path and content)."""
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compiler_cp():
    jars = spark_jars()
    picks = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not found:
            raise SystemExit(f"build: {name} jar not found in {jars}")
        picks.append(found[-1])
    return os.pathsep.join(picks)


def build(build_dir):
    """Compile when the sources changed; returns the classes directory."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        raise SystemExit("build: no program sources (src/main/scala) in this directory")
    classes = os.path.join(build_dir, "classes")
    stamp_path = os.path.join(build_dir, "classes.stamp")
    stamp = source_sha()
    if os.path.isdir(classes) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources()) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler_cp(), "scala.tools.nsc.Main",
           "-d", classes, "-classpath", os.path.join(spark_jars(), "*"),
           "-nowarn", "@" + argfile]
    print(f"build: compiling {len(sources())} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp_path, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
