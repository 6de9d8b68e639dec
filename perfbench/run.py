#!/usr/bin/env python3
"""Benchmark of the graft engine: builds it from source, runs one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <kg_build|operator_suite>
                           --seed <n> --seconds <n> --trace <0|1>
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --pin <dir>   (re-pin query digests, README.md)

The program is compiled with the Scala compiler that ships in the Spark
jars (no sbt), into .bench_build/perfbench, and rebuilt only when a source
file changes. One JVM then runs the workload at local[4]; its stdout ends
with the result line. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(BUILD, "work")
DATA = os.path.join(ROOT, "perfbench", "data")
# Spark's jars carry the Scala compiler and library too; the default is
# the jar directory build.sbt compiles against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

child = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(pattern):
    files = sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return files, h.hexdigest()


def compile_if_stale(name, files, stamp, classpath):
    """Compile `files` into BUILD/<name> unless the stamp matches."""
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling {name} failed", 1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def lock(name):
    """Hold an exclusive lock on BUILD/<name> until the process exits."""
    os.makedirs(BUILD, exist_ok=True)
    fh = open(os.path.join(BUILD, name), "w")
    fcntl.flock(fh, fcntl.LOCK_EX)
    return fh


def build():
    main_files, main_stamp = sources("src/main/scala/**/*.scala")
    bench_files, bench_stamp = sources("perfbench/src/*.scala")
    if not main_files or not bench_files:
        fail("no program sources here: run from the repository root")
    main_out = compile_if_stale("main-classes", main_files, main_stamp, SPARK_JARS)
    bench_out = compile_if_stale("bench-classes", bench_files, main_stamp + bench_stamp,
                                 main_out + os.pathsep + SPARK_JARS)
    return [bench_out, main_out, SPARK_JARS]


def stop_child(*_):
    if child is not None and child.poll() is None:
        child.kill()
        child.wait()
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", metavar="DIR")
    a = ap.parse_args()
    if not (a.selftest or a.pin) and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isfile(os.path.join(DATA, "digests.tsv")):
        fail("missing perfbench/data: run from the repository root")
    # runs in one checkout share the build, the staged inputs and the
    # cores: one at a time
    held = lock("run.lock")  # noqa: F841 (released at exit)
    classpath = build()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap without adaptive resizing keeps peak RSS a
    # property of the program rather than of the collector's heuristics
    jvm = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
              "-cp", os.pathsep.join(classpath),
              "perfbench.Main", "--work", WORK, "--data", DATA])
    if a.selftest:
        jvm.append("--selftest")
    elif a.pin:
        jvm += ["--pin", os.path.abspath(a.pin)]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace]

    global child
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    child = subprocess.Popen(jvm, cwd=ROOT)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 1)
    sys.exit(code)


if __name__ == "__main__":
    main()
