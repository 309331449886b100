#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution's jars, against those jars.

    python3 perfbench/build.py          # from the root of a checkout

Outputs go under $CARGO_TARGET_DIR (default .bench_build)/perfbench and are
rebuilt only when a source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath, out, extra_stamp=""):
    """Compile `srcs` into `out` unless `out` was built from the same sources."""
    stamp = _stamp(srcs) + extra_stamp
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    if not srcs:
        raise SystemExit(f"perfbench: no {name} sources to build")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath, "@" + args_file]
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def build():
    """Returns (program classes, benchmark classes, Spark jars dir)."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a checkout (src/main/scala not found)")
    jars = spark_jars()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    prog = os.path.join(out, "classes-program")
    prog_stamp = _compile("program", _sources(os.path.join("src", "main", "scala")), jar_cp, prog)
    resources = os.path.join("src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, prog, dirs_exist_ok=True)
    bench = os.path.join(out, "classes-bench")
    _compile("benchmark", _sources(os.path.join("perfbench", "src")),
             prog + os.pathsep + jar_cp, bench, extra_stamp=prog_stamp)
    return prog, bench, jars


if __name__ == "__main__":
    build()
