#!/usr/bin/env python3
"""Runs one workload of the graft benchmark.

    python3 graftbench/run.py --workload <batch_mix|stream_keyed|stream_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt on first use
(the classpath is cached under graftbench/.build and rebuilt when any
source or build file changes), then runs the harness in one JVM with
Spark's task slots pinned to the machine's CPU count. The harness
writes its run record (and with --trace 1 its spans) under
graftbench/.out and prints one JSON result line, which this script
prints as its last line of output.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
WORKLOADS = ("batch_mix", "stream_keyed", "stream_dedup")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file that goes into the build, as paths relative to ROOT."""
    files = []
    for top in ("src/main", "project", "graftbench/src", "graftbench/project"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    files += ["build.sbt", "graftbench/build.sbt"]
    return sorted(f for f in files if os.path.isfile(os.path.join(ROOT, f)))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program + harness; returns the runtime classpath."""
    files = sources()
    stamp = fingerprint(files)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            cp = cf.read().strip()
            if fh.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export graftbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--refs", help="pinned batch_mix references (default graftbench/refs/batch_mix.json)")
    ap.add_argument("--pin", action="store_true", help="write batch_mix references instead of checking them")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/GraftSession.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found next to the benchmark")
    for need in ("data/sf0.01/lineitem.parquet", "data/docs/documents.parquet", "refs/batch_mix.json"):
        if not os.path.exists(os.path.join(HERE, need)) and not (a.pin and need.startswith("refs")):
            fail(f"benchmark input {need} not found")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    work = os.path.join(OUT, "work")
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    # a fixed heap size: no heap resizing decisions that differ run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", cp, "graftbench.Bench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", os.path.join(HERE, "data"), "--out", OUT,
    ]
    if a.refs:
        cmd += ["--refs", os.path.abspath(a.refs)]
    if a.pin:
        cmd += ["--pin", "1"]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    result = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "metrics" in obj:
                result = obj
    if proc.returncode != 0 or result is None:
        fail(f"workload {a.workload} failed (exit {proc.returncode})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
