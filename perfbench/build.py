#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) and the
benchmark's own JVM code (perfbench/src) with the Scala compiler that ships
in Spark's jars, into <build dir>/classes. The build is skipped when the
sources have not changed since the last one.

Run from the root of a checkout:  python3 perfbench/build.py
The build dir is $CARGO_TARGET_DIR, or .bench_build when that is unset."""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(top, suffix):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, classpath, sources, log):
    os.makedirs(out, exist_ok=True)
    args = [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
            "scala.tools.nsc.Main", "-nowarn", "-d", out,
            "-classpath", classpath] + sources
    with open(log, "ab") as lf:
        if subprocess.run(args, stdout=lf, stderr=subprocess.STDOUT).returncode != 0:
            raise SystemExit(f"perfbench: compile failed, see {log}")


def build():
    """Returns the runtime classpath, compiling first when needed."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}")
    program = _files(PROGRAM_SRC, ".scala")
    resources = _files(PROGRAM_RES, "") if os.path.isdir(PROGRAM_RES) else []
    bench = _files(BENCH_SRC, ".scala")
    stamp = _stamp(program + resources + bench)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    jars = os.path.join(spark_jars(), "*")
    cp = out + os.pathsep + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    log = os.path.join(build_dir(), "build.log")
    os.makedirs(build_dir(), exist_ok=True)
    open(log, "w").close()
    _scalac(out, jars, program, log)
    _scalac(out, cp, bench, log)
    for r in resources:
        dst = os.path.join(out, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
    sys.exit(0)
