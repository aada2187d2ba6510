#!/usr/bin/env python3
"""Deterministic counter record: exact-repeat check and a second seed.

    python3 perfbench/counters.py [--ops 21] [--seed 1] [workload ...]

Runs each workload three times traced with a fixed op count: twice with
the same seed and once with the next seed. Prints each counter per run
and labels it `repeats` when the two same-seed runs agree exactly, or
`VARIES` when they do not. The second-seed column shows the counters are
not specific to one seed.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
COUNTERS = ["exec.jobs_per_op", "exec.stages_per_op", "plan.codegen_compiles",
            "manifest.files_scanned_per_read", "manifest.fs_write_ops"]


def run(workload, seed, ops):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1",
                        "--ops", str(ops)], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--ops", type=int, default=21)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    a = ap.parse_args()
    print(f"{'workload':14s} {'counter':34s} {'seed ' + str(a.seed):>12s} "
          f"{'again':>12s} {'seed ' + str(a.seed + 1):>12s}  label")
    for w in a.workloads:
        r1, r2, r3 = run(w, a.seed, a.ops), run(w, a.seed, a.ops), run(w, a.seed + 1, a.ops)
        for c in COUNTERS:
            v1, v2, v3 = (r[c]["value"] for r in (r1, r2, r3))
            label = "repeats" if v1 == v2 else "VARIES"
            print(f"{w:14s} {c:34s} {v1:12.4f} {v2:12.4f} {v3:12.4f}  {label}")


if __name__ == "__main__":
    main()
