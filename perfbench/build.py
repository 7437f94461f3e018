"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) using
the Scala compiler that ships in the Spark distribution's jars, the
same jars the engine's build.sbt compiles against. The output goes
under .bench_build/ and is reused while no source changes.

    python3 perfbench/build.py      # from the root of a checkout
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler at '{jars}'"
                         " (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files
                      if f.endswith((".scala", ".java"))]
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in found):
        raise SystemExit("perfbench: no engine sources under src/main/scala;"
                         " run from the root of a checkout")
    return sorted(found)


def ensure_built(log=sys.stderr):
    """Return the classpath to run the benchmark with, compiling first
    when the sources differ from the last build."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
        cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + srcs
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(ensure_built())
