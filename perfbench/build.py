"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
driver (perfbench/scala) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution, against the same jars the
sbt build uses, and packs them into .bench_build/perfbench.jar: the JVM
archives class data only from jars (see ARCHIVE). A stamp of every
source's path and content skips the compile when nothing changed. Run
from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# the JVM's dynamic class-data archive (CDS): written at exit by the JVM
# that builds scan-fleet's artifacts after a compile (run.py), mapped by
# every later JVM, removed when the classes are rebuilt
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# hash of every compiled source, written after a successful compile
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCES = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    files = []
    for root in SOURCES:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def pack():
    """CLASSES into JAR, entries sorted and with a fixed time."""
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for root, dirs, fs in os.walk(CLASSES):
            dirs.sort()
            for f in sorted(fs):
                path = os.path.join(root, f)
                info = zipfile.ZipInfo(os.path.relpath(path, CLASSES).replace(os.sep, "/"), (2000, 1, 1, 0, 0, 0))
                with open(path, "rb") as fh:
                    z.writestr(info, fh.read())
    os.replace(tmp, JAR)


def build(log=sys.stderr):
    files = sources()
    if not any(f.startswith("src/") for f in files):
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from the repository root")
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.exists(JAR):
        return
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-cp", jars] + files
    print("perfbench: compiling %d sources" % len(files), file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    pack()
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
