"""Build file of the benchmark package.

Compiles the engine (the repository's src/main/scala) together with the
harness (perfbench/src/main/scala) into .bench_build/classes, using the
Scala compiler that ships with the Spark distribution, so no dependency
resolution happens. A stamp over every source file's path and bytes
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under %s/src/main/scala" % ROOT)
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/main/scala/**/*.scala"),
                               recursive=True))
    return engine + harness


def source_digest(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    jars = spark_jars()
    srcs = sources()
    digest = source_digest(srcs)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, jars, digest
    os.makedirs(BUILD, exist_ok=True)
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        sys.exit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, jars, digest


if __name__ == "__main__":
    print(build()[0])
