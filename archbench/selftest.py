#!/usr/bin/env python3
"""Self-tests of the archivist benchmark. Run from the repository root:

    python3 archbench/selftest.py

1. The same seed generates byte-identical inputs (compared by checksum).
2. A different seed generates different inputs.
3. A short untraced and a short traced run of every workload pass their
   output checks and emit exactly the metric names BENCHMARK.json lists,
   with their units.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def checksums(workload, seed, digest):
    with open(run.CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    out = subprocess.run(
        ["java", f"-Xmx{run.HEAP}"] + opens + ["-cp", cp, "archbench.Main",
         "--workload", workload, "--seed", str(seed), "--work-dir", run.WORK,
         "--source-digest", digest, "--checksums"],
        cwd=run.REPO, capture_output=True, text=True, timeout=run.RUN_TIMEOUT_S)
    if out.returncode != 0:
        sys.exit(f"checksums of {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def fail(msg):
    print(f"FAIL {msg}")
    sys.exit(1)


def main():
    run.require_sources()
    digest = run.source_digest()
    run.build(digest)
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(run.WORKLOADS):
        fail(f"workloads {names} != runner's {run.WORKLOADS}")
    for w in names:
        a, b, c = (checksums(w, s, digest) for s in (7, 7, 8))
        if a != b:
            fail(f"{w}: seed 7 generated different inputs twice: {a} vs {b}")
        same = [k for k in a if a[k] == c.get(k)]
        if same:
            fail(f"{w}: seeds 7 and 8 generated identical inputs for {same}")
        print(f"ok {w}: inputs deterministic per seed and distinct across seeds")
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run.run_jvm(w, 9, 1, trace, digest, time.time() + run.RUN_TIMEOUT_S)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics {sorted(got.items())} != "
                     f"BENCHMARK.json {sorted(want.items())}")
            if not r["correct"] or r["failed"] != 0:
                fail(f"{w} trace={trace}: output checks failed: {r}")
            print(f"ok {w} trace={trace}: {len(got)} metrics match, outputs correct")
    print("all self-tests passed")


if __name__ == "__main__":
    main()
