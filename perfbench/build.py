"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own Scala sources (perfbench/scala) with the Scala compiler
that ships in Spark's jars directory, so a build needs neither sbt nor a
network. Output is cached under .bench_build/, keyed by a hash of every
source file, so a checkout compiles once.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
MAIN_SCALA = os.path.join(ROOT, "src", "main", "scala")
MAIN_RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no jars directory under {home}")
    return jars


def sources():
    if not os.path.isdir(MAIN_SCALA) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BuildError("program sources (build.sbt, src/main/scala) not found next to perfbench/")
    files = sorted(glob.glob(os.path.join(MAIN_SCALA, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([out, MAIN_RESOURCES, os.path.join(jars, "*")])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return classpath
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = glob.glob(os.path.join(jars, name + "-2.13.*.jar"))
        if not found:
            raise BuildError(f"{name} 2.13 jar not found in {jars}")
        compiler.append(found[0])
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
