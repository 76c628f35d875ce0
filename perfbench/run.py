#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the engine and the
harness from source with sbt (into $CARGO_TARGET_DIR, default
.bench_build) and reuses that build while the sources are unchanged.
Each call then generates W's input for seed N unless it is cached,
starts one JVM on local[nproc], and prints the result object as the
last line of stdout.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUDGET_S = 170  # one run, after any build
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ["tokens_validate", "json_docs"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Everything the build reads: the engine's and the harness's sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir, fp):
    """sbt build of engine + harness; returns the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp_file = os.path.join(build_dir, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log = os.path.join(build_dir, "build.log")
    # resolve from the local caches only: the build never goes online
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S)
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return cp


def commit_id(fp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-sha256:" + fp[:16]


def java(cp, work, args, timeout, main="perfbench.Main"):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # C1 only: on a shared 4-core host C2 keeps compiling Spark for more
    # than a run's length, and where it has got to sets the rates. Without
    # tiers the code cache defaults to 48 MB, which Spark fills.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}"] +
           opens + ["-cp", cp, main] + args)
    try:
        return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{args[0]} timed out after {timeout:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                ".bench_build")
    work = os.path.join(build_dir, "work")
    os.makedirs(work, exist_ok=True)
    fp = fingerprint()
    cp = build(build_dir, fp)

    start = time.monotonic()
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", work]
    if java(cp, work, ["prepare"] + common, BUDGET_S).returncode != 0:
        fail("input generation failed")
    left = BUDGET_S - (time.monotonic() - start)
    run = java(cp, work, ["measure"] + common +
               ["--seconds", str(a.seconds), "--trace", a.trace,
                "--commit", commit_id(fp)], max(left, 1))
    lines = [l for l in run.stdout.splitlines() if l.strip()]
    if run.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        fail(f"measurement failed (exit {run.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
