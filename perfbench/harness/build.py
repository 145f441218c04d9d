#!/usr/bin/env python3
"""Build file of the benchmark harness: compiles the program's sources
(src/main) together with the harness (perfbench/harness/src) in one scalac
run, with the Scala compiler that ships in the Spark distribution.

    python3 perfbench/harness/build.py        (from the root of a checkout)

It does not use sbt: sbt keeps its launcher, locks and caches in the user's
home directory, and the benchmark reads and writes only inside its checkout.
Classes go to perfbench/.cache/classes; a digest of every compiled input
skips the compile when nothing changed.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
CACHE = os.path.join(ROOT, "perfbench", ".cache")
CLASSES = os.path.join(CACHE, "classes")

# The program's own JVM options (build.sbt `javaOptions`, less its heap
# size): the module opens Spark needs on JDK 17 when a SparkSession starts
# outside spark-submit, no web UI, and UTC session time.
JVM_OPTIONS = [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


def spark_jars():
    """The Spark jars directory: the program build's `unmanagedBase`, else
    $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read(), re.M)
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler found")


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            found += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".scala")]
    return found


def digest(paths, jars):
    h = hashlib.sha256(jars.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return (classpath, JVM options)."""
    jars = spark_jars()
    srcs = sources()
    stamp = digest(srcs, jars)
    stamp_file = os.path.join(CLASSES, "build.stamp")
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            print("[perfbench] compiling program and harness with scalac", file=sys.stderr, flush=True)
            fresh = CLASSES + ".new"
            tmp = os.path.join(CACHE, "scalac-tmp")
            shutil.rmtree(fresh, ignore_errors=True)
            os.makedirs(fresh)
            os.makedirs(tmp, exist_ok=True)
            argfile = os.path.join(tmp, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("".join(os.path.relpath(p, ROOT) + "\n" for p in srcs))
            r = subprocess.run(
                ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                 "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                 "-usejavacp", "-nowarn", "-d", fresh, f"@{argfile}"],
                cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                raise SystemExit("perfbench: build failed")
            with open(os.path.join(fresh, "build.stamp"), "w") as fh:
                fh.write(stamp)
            shutil.rmtree(CLASSES, ignore_errors=True)
            os.replace(fresh, CLASSES)
    return os.pathsep.join([CLASSES, os.path.join(jars, "*")]), JVM_OPTIONS


if __name__ == "__main__":
    build()
