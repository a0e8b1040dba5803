#!/usr/bin/env python3
"""Benchmark front end: builds the program with the benchmark driver, runs
one workload in a fresh JVM and prints the result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles (sbt, offline) into
perfbench/target and caches the classpath in perfbench/.build, keyed by a
hash of every source file; later runs start the JVM directly. Each run works
in its own directory under perfbench/.work and removes it afterwards.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("topology_backfill", "gate_sweep")
# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for name in sorted(filenames):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    for name in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compiles if the sources changed since the cached build; returns the classpath."""
    state = os.path.join(BENCH, ".build")
    key_file, cp_file = os.path.join(state, "key"), os.path.join(state, "classpath")
    key = source_key()
    if os.path.exists(key_file) and os.path.exists(cp_file):
        with open(key_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == key and os.path.isdir(cp.split(":")[0]):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    target = os.path.join(BENCH, "target")
    cps = [l.strip() for l in proc.stdout.splitlines() if l.startswith(target)]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(state, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(key_file, "w") as f:
        f.write(key)
    return cps[-1]


def run_jvm(cp, args):
    """Runs perfbench.Main in its own work directory; returns the parsed result."""
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}-{time.monotonic_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Two GC and two JIT compiler threads: with the defaults a cold drain
    # used ~3 of 4 cores and its times followed the box's other load more.
    cmd = ["java", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
           "-Xms3g", "-Xmx3g", "-Xmn768m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
           "-cp", cp, "perfbench.Main", *args, "--bench", BENCH, "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    # if this front end is stopped, stop the JVM with it
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BENCH, ".work", "last-spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    results = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        fail(f"workload exited with code {proc.returncode}")
    return json.loads(results[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="write gate fingerprints to this file instead of checking")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to perfbench/")
    cp = classpath()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    if a.record:
        args += ["--record", os.path.abspath(a.record)]
    print(json.dumps(run_jvm(cp, args), separators=(",", ":")))


if __name__ == "__main__":
    main()
