#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
driver from source with sbt (offline) when the sources changed since the
last build, then runs one workload in a fresh JVM and prints its metric
lines followed by one JSON object as the last line of standard output.
Exits non-zero when the build fails, the program sources are missing,
an op fails or its output check fails, or the run overruns.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JAVA_OPTIONS = os.path.join(TARGET, "java_options.txt")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# The program's own build: the benchmark compiles the program with it.
PROGRAM_SBT = os.path.join(ROOT, "build.sbt")
PROGRAM_PROJECT = os.path.join(ROOT, "project")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             PROGRAM_SBT]
    if os.path.isdir(PROGRAM_PROJECT):
        files += [os.path.join(PROGRAM_PROJECT, n) for n in os.listdir(PROGRAM_PROJECT)
                  if n.endswith((".sbt", ".scala", ".properties"))]
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    want = source_hash()
    if all(os.path.exists(f) for f in (STAMP, CLASSPATH, JAVA_OPTIONS)):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if not env.get("SBT_OPTS") and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if "-Dsbt.offline=true" not in opts:
        opts.append("-Dsbt.offline=true")
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building program and benchmark from source", file=sys.stderr)
    t0 = time.time()
    try:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if rc != 0 or not os.path.exists(CLASSPATH) or not os.path.exists(JAVA_OPTIONS):
        die(f"build failed (sbt exit {rc})", 3)
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"perfbench: build took {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")) or not os.path.isfile(PROGRAM_SBT):
        die(f"program sources or build not found under {os.path.relpath(ROOT, os.getcwd())}")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # the program's own JVM options (module opens, Spark properties), with
    # the benchmark's heap size in place of the program's
    with open(JAVA_OPTIONS) as fh:
        jvm = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm
           + ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    if a.trace:
        # keep the span records of a traced run for inspection
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(BENCH, ".work", f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(spans, keep)
            print(f"perfbench: spans in {os.path.relpath(keep, os.getcwd())}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        die(f"no result line (JVM exit {proc.returncode})", 5)
    print(result)
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
