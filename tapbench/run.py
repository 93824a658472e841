#!/usr/bin/env python3
"""Tap product-path benchmark.

Run from the root of a checkout:

    python3 tapbench/run.py --workload singer_full --seed 1 --seconds 12 --trace 0

Builds the tap and the benchmark harness from source on first use (sbt,
offline, output in .bench_build/), then runs one workload in a fresh JVM.
Lines starting with '#' summarize the run; the last stdout line is the JSON
result.  Exits non-zero without a result when the tap's sources are missing
or the run fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

WORKLOADS = ("singer_full", "batch_full", "sql_surface")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"tapbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of the names, sizes and mtimes of every input of the build."""
    h = hashlib.sha256()
    for top in ("src/main", "tapbench/src/main", "tapbench/build.sbt",
                "tapbench/project/build.properties"):
        path = os.path.join(root, top)
        walk = ([(os.path.dirname(path), [], [os.path.basename(path)])]
                if os.path.isfile(path) else os.walk(path))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, root)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", f"-Djava.io.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=os.path.join(root, "tapbench"), env=env,
                               stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        fail(f"build failed, see {os.path.join(build_dir, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/Tap.scala")):
        fail("run from the root of a checkout: src/main/scala/graft/Tap.scala is missing")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms4g", "-Xmx4g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "tapbench.TapBench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--launched-ms", str(int(time.time() * 1000)), "--work", work,
    ]
    err_log = os.path.join(work, "run.err")
    with open(err_log, "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {RUN_TIMEOUT_S} s, see {err_log}")
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        with open(err_log) as f:
            sys.stderr.writelines([l for l in f if " INFO " not in l][-30:])
        fail(f"run failed with exit code {p.returncode}, see {err_log}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
