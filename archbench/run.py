#!/usr/bin/env python3
"""Archivist benchmark runner.

    python3 archbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 archbench/run.py --workload <name> --seed <n> --seconds <s> --overhead

Run from the repository root. The first call builds the engine from the
repository's sources together with the harness (sbt, archbench/build.sbt)
and caches the classpath under archbench/target; later calls start the JVM
directly. The last stdout line is the JSON result of the (last) run.
`--overhead` runs the workload untraced and traced with the same seed and
prints the traced-minus-untraced end-to-end figures.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build-digest.txt")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ["dashboard_mixed", "dedup_corpus"]
HEAP = "2g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# the module openings spark-submit passes on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[archbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def require_sources():
    needed = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "src", "main", "scala"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "src")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log("cannot build: missing " + ", ".join(os.path.relpath(p, REPO) for p in missing))
        sys.exit(2)


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "archbench/compile", "archbench/writeClasspath"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {r.returncode})")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def run_jvm(workload, seed, seconds, trace, digest, deadline):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # an explicit heap limit; the heap grows only as far as the run uses it
    cmd = (["java", f"-Xmx{HEAP}"] + opens + ["-cp", cp, "archbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work-dir", WORK, "--source-digest", digest])
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{workload}: timed out")
        sys.exit(4)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        log(f"{workload}: JVM exited {proc.returncode}")
        sys.exit(5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"{workload}: malformed result line")
        sys.exit(6)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()

    require_sources()
    digest = source_digest()
    build(digest)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    for w in names:
        deadline = time.time() + RUN_TIMEOUT_S
        if args.overhead:
            plain = run_jvm(w, args.seed, args.seconds, 0, digest, deadline)
            traced = run_jvm(w, args.seed, args.seconds, 1, digest,
                             time.time() + RUN_TIMEOUT_S)
            pm, tm = plain["metrics"], traced["metrics"]
            over = {
                "op_p50_ms": tm["trace.op_p50_ms"]["value"] - pm["op_p50_ms"]["value"],
                "throughput_per_s": tm["trace.throughput_per_s"]["value"]
                - pm["throughput_per_s"]["value"],
            }
            print(json.dumps({"workload": w, "tracing_overhead": over}), flush=True)
        else:
            result = run_jvm(w, args.seed, args.seconds, args.trace, digest, deadline)
            if len(names) > 1:
                print(json.dumps({"workload": w, **result}), flush=True)
            else:
                print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
