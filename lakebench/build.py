"""Build file of the benchmark.

Compiles graft's main sources (../src/main/scala) together with the
benchmark's own sources (src/) in one scalac pass, using the Scala compiler
that ships in Spark's jars directory, into .build/classes. The build is
skipped when a stamp of every source file's content matches the last build.

    python3 lakebench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: Spark's jars directory not found (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                 if os.path.isfile(p))
    return main + bench, resources, res


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs, resources, res = sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    build()
