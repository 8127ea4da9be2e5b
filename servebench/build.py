"""Build file of the serving benchmark.

Compiles the program's main sources (`src/main/scala` at the repository
root) together with the benchmark's own sources (`servebench/src`) into
`servebench/target/classes`, with the Scala compiler that ships among the
Spark jars. A stamp over every source file skips the compile when nothing
changed. Run directly (`python3 servebench/build.py`) or through run.py.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("servebench: no Spark jars (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        sys.exit("servebench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return prog + own


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    out = CLASSES + ".new"
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("servebench: compile failed")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
