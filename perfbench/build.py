"""Builds the engine and the benchmark main into one class directory.

Compiles `src/main/scala` (the program) and `perfbench/src` (the benchmark)
with the Scala compiler that ships in the Spark distribution's jars, so no
build tool or dependency resolution is involved. The build is skipped when
a stamp of every source file's path and content is unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME") or "/opt/spark", "jars")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BENCH_SOURCES = os.path.join(ROOT, "perfbench", "src")


def sources():
    return sorted(glob.glob(os.path.join(PROGRAM_SOURCES, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(BENCH_SOURCES, "**", "*.scala"), recursive=True))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(SPARK_JARS, "*")])


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles if the sources changed; returns (stamp, compiled)."""
    files = sources()
    if not any(f.startswith(PROGRAM_SOURCES) for f in files):
        raise SystemExit(f"no program sources under {PROGRAM_SOURCES}")
    st = stamp(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == st:
        return st, False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(SPARK_JARS, "*"),
           "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(st)
    return st, True


if __name__ == "__main__":
    print(build()[0])
