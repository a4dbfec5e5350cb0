"""Builds the program and the benchmark harness from source.

Both are compiled with the Scala compiler that ships among the Spark
jars the repository's build.sbt names (`unmanagedBase`), into
directories under `.bench_build/perfbench` named by a hash of their
sources: a checkout builds once, and rebuilds only when a source
changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase "
                     "and SPARK_HOME is unset")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _compile(jars, out, sources, classpath=None):
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    print(f"[perfbench] compiling {len(sources)} sources into {out}",
          file=sys.stderr, flush=True)
    r = subprocess.run(cmd + sources, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    return out


def build(root):
    """Returns the JVM classpath of the built program and harness."""
    src = os.path.join(root, "src", "main", "scala")
    program = _sources(src)
    if not program:
        raise BuildError(f"no program sources under {src}")
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    prog = _compile(jars, os.path.join(base, "program-" + _digest(program, jars)),
                    program)
    bench = _sources(os.path.join(HERE, "src"))
    harness = _compile(
        jars, os.path.join(base, "bench-" + _digest(bench, prog)), bench,
        classpath=prog)
    return os.pathsep.join([harness, prog, os.path.join(jars, "*")])
