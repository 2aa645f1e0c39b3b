"""Build file of the benchmark: compiles the program and the benchmark's
JVM side into one class directory, without sbt.

The program's main sources (src/main/scala, src/main/resources) and
perfbench/jvm are compiled with the Scala compiler that ships with the
Spark distribution build.sbt uses (its unmanagedBase), so no sbt or
network access is needed and nothing is written outside the checkout.
A build is skipped when the sources hash to the stamp of the last one.

Run alone:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def _spark_jars():
    """The Spark jars directory build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt sets no unmanagedBase")
    return m.group(1)


SPARK_JARS = _spark_jars() if os.path.exists(os.path.join(ROOT, "build.sbt")) else None


def sources():
    found = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/jvm/**/*.scala"):
        found += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(found)


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)), base


def classpath():
    return f"{CLASSES}:{SPARK_JARS}/*"


def _stamp(srcs, res):
    h = hashlib.sha256(SPARK_JARS.encode())
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; return True if a build ran."""
    srcs = sources()
    res, res_base = resources()
    stamp = _stamp(srcs, res)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", f"{SPARK_JARS}/*", "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = os.path.join(CLASSES, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return True


if __name__ == "__main__":
    build()
