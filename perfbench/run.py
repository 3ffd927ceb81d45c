#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 10 --trace 0

Run from the root of the checkout. The first run builds the program
together with the benchmark driver (sbt, in perfbench/); later runs reuse
the build while the sources are unchanged. Each run is one fresh JVM. The
last line on stdout is the JSON result; logs go to stderr. Scratch files
(warehouses, checkpoints, Spark temp) live in perfbench/work/run-<pid> and
are removed at the end; the run-environment record and traced span dumps
stay in perfbench/work/results.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("ingest_steady", "ingest_fanout", "batch_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JVM_OPTS = [
    *[a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ) for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Xms2g", "-Xmx2g", "-Xmn640m", "-XX:+UseParallelGC",
    "-XX:-UseAdaptiveSizePolicy", "-XX:ReservedCodeCacheSize=512m",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless this digest is already built; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    sys.stderr.write(proc.stdout[-4000:])
    cps = [l.strip() for l in proc.stdout.splitlines()
           if "classes" in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        raise RuntimeError("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        log(f"program sources not found under {PROGRAM_SRC}; "
            "run from the root of a checkout")
        return 2
    try:
        digest = source_digest()
        cp = build(digest)
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        return 3

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", *JVM_OPTS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={run_dir}",
           f"-Dperfbench.commit={git_commit()}",
           f"-Dperfbench.sourceDigest={digest[:16]}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", run_dir, "--bench", HERE]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S}s; killed")
        return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        return 5
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
