#!/usr/bin/env python3
"""Served-retrieval benchmark runner.

Builds the program and the benchmark from source with the Scala compiler
that ships with Spark, then starts one JVM that serves the program and
drives it (see src/servebench/Main.scala). Run from the repository root:

    python3 servebench/run.py --workload knn_scan --seed 1 --seconds 7 --trace 0
    python3 servebench/run.py --self-test

The last line of standard output is the result record. Everything else a
run leaves behind lives under .bench_build/servebench/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "servebench")
CLASSES = os.path.join(BUILD, "classes")
WORK = os.path.join(BUILD, "work")
RESULTS = os.path.join(BUILD, "results")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("knn_scan", "knn_index", "mixed_small")
RUN_LIMIT_S = 170
# Fixed heap: the largest workload holds ~26 MB of vectors on each side of
# the wire plus Spark's working set; 2 GB leaves the collector idle enough
# that GC does not dominate the spread.
HEAP = "2g"
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase the root build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail(f"no Spark jars directory found (set SPARK_HOME); tried '{jars}'")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}; run from a full checkout")
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources():
    out = []
    for d, _, fs in os.walk(PROGRAM_RES):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build(jars):
    """Compile program + benchmark into CLASSES unless the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + resources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return False
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
             "-d", tmp, "-classpath", jars, "@" + argfile],
            stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log {log})", 3)
    for p in resources():
        dst = os.path.join(tmp, os.path.relpath(p, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def jvm(jars, main, args, log_path, limit_s):
    """Run one JVM to completion (or kill it at the limit); returns (rc, stdout)."""
    tmpdir = os.path.join(WORK, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmpdir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + jars, main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=WORK,
                                start_new_session=True, text=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(WORK, ignore_errors=True)
            sys.exit(143)
        # a runner stopped from outside takes its JVM down with it
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None, ""
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that every answer check fails on a perturbed answer")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        fail("--workload is required")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    built = build(jars)
    # set-up time is timed from the process's start, or from the end of
    # the build when this run had to compile first
    start = time.time() if built else T0
    limit = RUN_LIMIT_S - (time.time() - start)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    try:
        if a.self_test:
            rc, out = jvm(jars, "servebench.ChecksSelfTest", [],
                          os.path.join(RESULTS, "self-test.log"), limit)
            sys.stdout.write(out)
            sys.exit(0 if rc == 0 else 1)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        rc, out = jvm(jars, "servebench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK,
            "--detail", os.path.join(RESULTS, name + ".json"),
            "--t0-ms", str(int(start * 1000))], os.path.join(RESULTS, name + ".log"), limit)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.strip().splitlines()
    if rc is None:
        fail(f"run exceeded {limit:.0f} s and was stopped", 4)
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited with {rc} (log {os.path.join(RESULTS, name + '.log')})", 5)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
