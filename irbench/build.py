"""Build file of the benchmark: compiles the program's sources, the
test-scope reference oracle and the benchmark's own Scala sources into
one class directory with the Scala compiler that ships with Spark.

    python3 irbench/build.py            # prints the class directory

The output lives under `.bench_build/` (or $IRBENCH_BUILD) and is keyed
by a hash of every input, so an unchanged tree is not compiled again.
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

PROGRAM = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
ORACLE = os.path.join(ROOT, "src", "test", "scala", "graft", "oracle", "RefOracle.scala")
BENCH = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """Classpath glob of Spark's jars: $SPARK_HOME/jars, else the jar
    directory the sbt build compiles against (build.sbt's unmanagedBase)."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for jars in dirs:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise BuildError(f"no Spark jars with a Scala compiler in {dirs or 'SPARK_HOME'}")


def sources():
    if not os.path.isdir(os.path.join(PROGRAM, "graft")) or not os.path.isfile(ORACLE):
        raise BuildError(f"program sources missing under {ROOT}")
    found = []
    for top in (PROGRAM, BENCH):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found) + [ORACLE]


def resources():
    out = []
    for d, _, files in os.walk(RESOURCES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build_dir():
    return os.environ.get("IRBENCH_BUILD") or os.path.join(ROOT, ".bench_build")


def build(quiet=False):
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs, res = sources(), resources()
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    if not quiet:
        print(f"built {out}", file=sys.stderr)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
