#!/usr/bin/env python3
"""Paper-path benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload nightly_network --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source with sbt the first
time (and whenever a source file changes), then runs one benchmark
process. Everything it writes goes under `.bench_build/` in the current
directory. The last line of stdout is the JSON result; everything else
goes to stderr. Exits non-zero, without a result, when the build or the
run fails.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("nightly_network", "long_record")

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input to the build."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def wait_or_kill(proc, deadline, what):
    """Waits for `proc` (started in its own session) until the deadline;
    kills its whole process group and exits non-zero past it."""
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        return out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{what} timed out")
        sys.exit(1)


def build(deadline):
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "cpFile"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, start_new_session=True)
    wait_or_kill(proc, deadline, "build")
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {proc.returncode})")
        sys.exit(1)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run(args, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    out = wait_or_kill(proc, deadline, "run")
    result = None
    for line in out.splitlines():
        try:
            parsed = json.loads(line)
        except ValueError:
            parsed = None
        if isinstance(parsed, dict) and "metrics" in parsed:
            result = parsed
        elif line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        log(f"run failed (exit {proc.returncode})")
        sys.exit(1)
    print(json.dumps(result), flush=True)


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        log(f"no program sources at {PROGRAM_SRC}; run from the repository root")
        sys.exit(2)
    built_before = os.path.exists(STAMP)
    # the first run in a checkout may take the build's time on top
    deadline = start + (172 if built_before else 890)
    build(deadline)
    run(args, deadline)


if __name__ == "__main__":
    main()
