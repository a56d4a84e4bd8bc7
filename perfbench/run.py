#!/usr/bin/env python3
"""Run one benchmark measurement: build if needed, launch one JVM, print the result.

    python3 perfbench/run.py --workload paced --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --record     # rewrite expected/operators_sf0.001.json

The build compiles graft's sources (../src/main) together with the harness in
perfbench/src/main with the Scala compiler among Spark's jars (no sbt, no
downloads), and is skipped while a hash of those sources matches the last
build. Each run gets a fresh work directory in
perfbench/.work; the JVM runs in a private mount namespace whose /tmp is that
directory, so the scratch trees graft writes under /tmp stay inside the
checkout. The last line of stdout is the result JSON; the line before it is
the run's log (set-up steps and generator lateness), which is not a metric.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["paced", "drain"]
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    """Spark's jars directory: SPARK_HOME's, else that of the spark-submit on
    PATH, else the one the repository's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    candidates = [os.path.join(home, "jars")] if home else []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for d in candidates:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return sorted(glob.glob(os.path.join(d, "*.jar")))
    fail("no Spark installation found: set SPARK_HOME")


def scala_files():
    return sorted(os.path.join(d, f) for base in SOURCES for d, _, fs in os.walk(base)
                  for f in fs if f.endswith(".scala"))


def source_hash(jars):
    h = hashlib.sha256()
    for p in [*scala_files(), os.path.join(BENCH, "run.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def build(jars):
    """Compiles graft's sources and the harness with the Scala compiler that
    ships among Spark's jars, into perfbench/target/classes. Nothing is
    fetched and nothing is written outside perfbench/target."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not beside perfbench/; nothing to build")
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        fail("Spark's jars hold no scala-compiler jar; cannot build")
    digest = source_hash(jars)
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    shutil.rmtree(TARGET, ignore_errors=True)
    out = os.path.join(TARGET, "classes.partial")
    os.makedirs(out)
    with open(os.path.join(TARGET, "sources.txt"), "w") as f:
        f.write("\n".join(f'"{p}"' for p in scala_files()) + "\n")
    cp = os.pathsep.join(jars)
    cmd = [java(), "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={TARGET}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8", "-d", out, "-classpath", cp,
           "@" + os.path.join(TARGET, "sources.txt")]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        fail("build failed")
    os.rename(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)


def private_tmp(tmp):
    """Runs the rest of the command line with `tmp` mounted over /tmp."""
    return ["unshare", "--mount", "--map-root-user", "sh", "-c",
            'mount --bind "$0" /tmp && exec "$@"', tmp]


def private_tmp_works(tmp):
    try:
        return subprocess.run([*private_tmp(tmp), "true"],
                              stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the operators pass's expected row counts and hashes")
    args = ap.parse_args()
    if args.record:
        main_args = ["record", BENCH]
    elif None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    else:
        main_args = ["run", args.workload, str(args.seed), str(args.seconds), str(args.trace), BENCH]

    jars = spark_jars()
    build(jars)
    classpath = os.pathsep.join([CLASSES, RESOURCES, *jars])
    with open(os.path.join(BENCH, "jvm.opts")) as f:
        jvm_opts = [l.strip() for l in f if l.strip()]

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    java_cmd = [java(), *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main", *main_args]
    if private_tmp_works(tmp):
        java_cmd = [*private_tmp(tmp), *java_cmd]
    stderr_path = os.path.join(WORK, "jvm.stderr")
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(java_cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        timeout = RECORD_TIMEOUT_S if args.record else RUN_TIMEOUT_S
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {timeout} s")
    lines = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in out.splitlines()
             if l.startswith("PERFBENCH_") and " " in l}
    if args.record and proc.returncode == 0:
        return
    if proc.returncode != 0 or "PERFBENCH_RESULT" not in lines:
        with open(stderr_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {proc.returncode} and no result")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"log": json.loads(lines["PERFBENCH_LOG"])}))
    print(json.dumps(json.loads(lines["PERFBENCH_RESULT"])))


if __name__ == "__main__":
    main()
