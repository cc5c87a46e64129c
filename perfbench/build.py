"""Builds the engine and the benchmark from source.

Compiles every `src/main/scala` file of the checkout together with
`perfbench/src` using the Scala compiler that ships in Spark's jars (the
same jars the engine's sbt build compiles against), into
`perfbench/.build/<source hash>/classes`. A build whose sources are
unchanged is reused.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` directory the engine's
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from a full checkout")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BENCH, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "complete")):
        return classes
    shutil.rmtree(os.path.join(BENCH, ".build"), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    open(os.path.join(out, "complete"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
