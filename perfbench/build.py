#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) and then the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark
distribution's jars directory: $SPARK_HOME/jars, or else the
`unmanagedBase` directory the program's build.sbt compiles against.
Classes go to $CARGO_TARGET_DIR (default .bench_build) under the checkout; each half is
rebuilt only when a hash of its sources changes.

    python3 perfbench/build.py          # from the root of a checkout

prints the runtime classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(repo):
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(repo, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("no $SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def _sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(srcs, classpath, out, stamp, build_dir, jars):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} files into {out}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(repo):
    """Compile what changed; return the runtime classpath."""
    program_src = _sources(os.path.join(repo, "src", "main", "scala"))
    bench_src = _sources(os.path.join(repo, "perfbench", "src"))
    if not program_src:
        raise RuntimeError("no program sources under src/main/scala")
    jars_dir = spark_jars(repo)
    if not os.path.isdir(jars_dir):
        raise RuntimeError(f"no Spark jars at {jars_dir}")
    jars = os.path.join(jars_dir, "*")
    build_dir = os.path.join(repo, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    program_out = os.path.join(build_dir, "program")
    bench_out = os.path.join(build_dir, "bench")
    program_stamp = _digest(program_src)
    _compile(program_src, jars, program_out, program_stamp, build_dir, jars)
    _compile(bench_src, program_out + os.pathsep + jars, bench_out,
             _digest(bench_src, program_stamp), build_dir, jars)
    resources = os.path.join(repo, "src", "main", "resources")
    return os.pathsep.join([bench_out, program_out, resources, jars])


if __name__ == "__main__":
    print(build(os.getcwd()))
