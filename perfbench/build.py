"""Builds the program and the serving harness from source with the Scala compiler
that ships in the Spark distribution (no sbt, nothing fetched).

    python3 perfbench/build.py          # compile into .bench_build/classes

The program's main sources (src/main/scala) compile against the jars build.sbt
puts on its classpath (its `unmanagedBase` directory, else $SPARK_HOME/jars),
with the Scala compiler found there; the harness (perfbench/ServeHarness.scala)
compiles against those classes.
A content hash of every source is kept, so a checkout is compiled once.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "classes")
HARNESS = os.path.join(HERE, "ServeHarness.scala")


class BuildError(Exception):
    pass


def spark_jars():
    jars = None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def _sources():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise BuildError(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return srcs


def _scalac(classpath, out, srcs):
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    srcs = _sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for path in srcs + [HARNESS]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    program, harness = os.path.join(OUT, "program"), os.path.join(OUT, "harness")
    stamp = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        tmp = OUT + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "program"))
        os.makedirs(os.path.join(tmp, "harness"))
        _scalac(jars, os.path.join(tmp, "program"), srcs)
        _scalac(os.pathsep.join([os.path.join(tmp, "program"), jars]),
                os.path.join(tmp, "harness"), [HARNESS])
        with open(os.path.join(tmp, "stamp"), "w") as f:
            f.write(digest)
        shutil.rmtree(OUT, ignore_errors=True)
        os.rename(tmp, OUT)
    return os.pathsep.join([harness, program, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
