#!/usr/bin/env python3
"""Build file of the incremental-sync benchmark.

Compiles the engine (src/main/scala) and the benchmark's own sources
(syncbench/src) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/ at the repository root. A stage whose
sources are unchanged since its last build is not recompiled.

    python3 syncbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("syncbench: Spark's jars directory (with the Scala compiler) "
                 "was not found; set SPARK_HOME")
    return jars


def sources(d):
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        sys.exit(f"syncbench: no Scala sources under {os.path.relpath(d, ROOT)}")
    return found


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_stage(name, srcs, classpath, jars, extra_stamp=""):
    """Compile `srcs` into .bench_build/<name> unless already current."""
    out = os.path.join(OUT, name)
    stamp_file = out + ".stamp"
    want = stamp(srcs, extra_stamp)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    print(f"syncbench: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"syncbench: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out, want


def build():
    """Compile both stages; return the runtime classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        sys.exit("syncbench: the engine sources (src/main/scala) are missing")
    jars = spark_jars()
    jar_cp = [os.path.join(jars, "*")]
    engine, engine_stamp = compile_stage("engine", sources(engine_src), jar_cp, jars)
    bench, _ = compile_stage("bench", sources(os.path.join(HERE, "src")),
                             [engine] + jar_cp, jars, engine_stamp)
    return [bench, engine] + jar_cp


if __name__ == "__main__":
    print(os.pathsep.join(build()))
