#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark (perfbench/src) from source into one class directory.

The engine builds with sbt; the benchmark instead calls the Scala
compiler that ships among the Spark jars, so a checkout builds without
sbt's caches and writes nothing outside itself. The output, a class
directory, lives under .bench_build/perfbench and is rebuilt only when a
source file changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

OUT = os.path.join(".bench_build", "perfbench")


def spark_jars(root):
    """The Spark jar directory the engine compiles against: $SPARK_HOME/jars,
    else the `unmanagedBase` that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    return main + bench


def resources(root):
    base = os.path.join(root, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**/*"), recursive=True)
                  if os.path.isfile(p)), base


def compiler_jars(jars):
    names = ("scala-compiler-", "scala-library-", "scala-reflect-")
    found = [p for n in names for p in glob.glob(os.path.join(jars, n + "*.jar"))]
    if len(found) != 3:
        raise SystemExit("perfbench: Scala compiler jars not found in " + jars)
    return found


# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
WORKLOADS = ("wc-latency", "table-dml")


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp, work):
    """The JVM command line for perfbench.Main."""
    return (["java", "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(cp), "perfbench.Main"])


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; return (classpath list, seconds spent compiling)."""
    root = os.path.abspath(root)
    jars = spark_jars(root)
    srcs = sources(root)
    res, res_base = resources(root)
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    digest = stamp(srcs + res)
    stamp_file = os.path.join(out, "stamp")
    cp = [classes, os.path.join(jars, "*")]
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == digest:
        return cp, 0.0
    t0 = time.time()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler_jars(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    log = os.path.join(out, "scalac.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit("perfbench: compile failed (see %s)" % log)
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, time.time() - t0


if __name__ == "__main__":
    cp, secs = build(".")
    print("built in %.1f s: %s" % (secs, os.pathsep.join(cp)))
