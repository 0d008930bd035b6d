"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark driver (perfbench/src) into <root>/.bench_build/classes, using
the Scala compiler and the Spark jars of the Spark distribution:
$SPARK_HOME/jars, or else the `unmanagedBase` directory that the program's
own build.sbt compiles against. A stamp over every source file skips the
compile when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def _spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else "jars"


SPARK_JARS = _spark_jars()
SCALA_VERSION = "2.13.17"


def program_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))


def bench_sources():
    return sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def runtime_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    return os.pathsep.join([CLASSES] + jars)


def _stamp(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed since the last build. Raises
    RuntimeError when the program's sources are missing or do not compile."""
    prog = program_sources()
    if not prog:
        raise RuntimeError("no program sources under src/main/scala")
    files = prog + bench_sources()
    stamp = _stamp(files)
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    compiler = [os.path.join(SPARK_JARS, f"scala-{j}-{SCALA_VERSION}.jar")
                for j in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            raise RuntimeError(f"missing Scala toolchain jar: {j}")
    if os.path.exists(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES,
           "-cp", os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
