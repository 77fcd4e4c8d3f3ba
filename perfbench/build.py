"""Build file of the benchmark package.

Compiles the engine (``src/main/scala`` at the repository root) together
with the harness (``harness/*.scala``) using the Scala compiler that ships
in the Spark distribution (``$SPARK_HOME/jars``), into
``.bench_build/classes`` at the repository root. A build whose source
digest matches the previous one is skipped.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "harness")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return os.path.join(home, "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the source digest of the build."""
    files = sources()
    digest = source_digest(files)
    stamp = os.path.join(CLASSES, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    jars = spark_jars()
    compiler = [os.path.join(jars, f"{n}-{v}.jar") for n in ("scala-compiler", "scala-library", "scala-reflect")
                for v in [_scala_version(jars)]]
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def _scala_version(jars):
    found = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    if len(found) != 1:
        raise BuildError("expected exactly one scala-library jar in " + jars)
    return os.path.basename(found[0])[len("scala-library-"):-len(".jar")]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
