#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, against the Spark jars, into
`.bench_build/perfbench/{engine,bench}.jar` of the checkout. A stamp of
the source contents skips a compile when nothing changed.

    python3 perfbench/build.py          # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def compile_stage(name, files, jars, tools, deps):
    """Compile `files` into OUT/<name>.jar unless its stamp (the
    compiler, the sources and the stamps of `deps`) is unchanged;
    returns OUT/<name>.
    """
    digest = hashlib.sha256(tools[0].encode())
    for d in deps:
        with open(d + ".stamp") as fh:
            digest.update(fh.read().encode())
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(OUT, name)
    if os.path.exists(out + ".jar") and os.path.exists(out + ".stamp"):
        with open(out + ".stamp") as fh:
            if fh.read().strip() == stamp:
                return out
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(tools), "scala.tools.nsc.Main", "-nowarn",
           "-d", staging,
           "-classpath", os.pathsep.join([d + ".jar" for d in deps] + [os.path.join(jars, "*")])]
    print(f"# compiling {name}: {len(files)} Scala files", file=sys.stderr)
    if subprocess.run(cmd + files, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac failed on {name}")
    # a jar, not a class directory: the JVM's class-data sharing archive
    # (see run.py) only covers classes loaded from jars
    with zipfile.ZipFile(out + ".jar.tmp", "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in sorted(os.walk(staging)):
            for n in sorted(names):
                p = os.path.join(d, n)
                jar.write(p, os.path.relpath(p, staging))
    os.replace(out + ".jar.tmp", out + ".jar")
    shutil.rmtree(staging, ignore_errors=True)
    with open(out + ".stamp", "w") as fh:
        fh.write(stamp)
    return out


def build():
    """Compile what changed; return the classpath to run the benchmark
    with, and a key that changes whenever any of its sources does."""
    jars = spark_jars()
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BuildError(f"engine sources missing: {engine_src}")
    tools = [sorted(glob.glob(os.path.join(jars, f"scala-{k}-*.jar")))
             for k in ("compiler", "library", "reflect")]
    if not all(tools):
        raise BuildError(f"no Scala compiler in {jars}")
    tools = [t[0] for t in tools]
    engine = compile_stage("engine", scala_files(engine_src), jars, tools, [])
    bench = compile_stage("bench", scala_files(os.path.join(HERE, "src")), jars, tools,
                          [engine])
    with open(bench + ".stamp") as fh:
        key = fh.read().strip()[:16]
    return os.pathsep.join([bench + ".jar", engine + ".jar", os.path.join(jars, "*")]), key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
