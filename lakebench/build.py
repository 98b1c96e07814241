"""Builds the engine and the benchmark from source with the Scala compiler
that ships among Spark's jars (the same jars the sbt build compiles
against), into lakebench/.build/<source hash>/. A build whose sources are
unchanged is reused.

    python3 lakebench/build.py      # from the repository root
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH, else the sbt build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Returns the runtime classpath, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = [classes, ENGINE_RES, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("compilation failed")
    open(os.path.join(out, "ok"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
