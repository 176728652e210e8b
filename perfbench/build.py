"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) into one class directory,
with the Scala compiler that ships in the Spark distribution's jars.

The build is skipped when the class directory was compiled from exactly
the current sources (a SHA-256 over their paths and contents).

Usage: python3 perfbench/build.py [build_dir]   (default .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars() -> str:
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath(classes: str) -> str:
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def sources() -> list:
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir: str) -> str:
    """Compile if needed; returns the class directory."""
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".sources.sha256")
    files = sources()
    want = fingerprint(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(tmp, ".sources.sha256"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(target, exist_ok=True)
    print(build(target))
