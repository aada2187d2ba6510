#!/usr/bin/env python3
"""Self-test: every workload at tiny size, untraced and traced.

    python3 perfbench/selftest.py

Asserts that each run prints every metric BENCHMARK.json names, with its
unit, and that no op failed (error_rate 0). Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "3", "--trace", str(trace), "--tiny", "1"],
                       capture_output=True, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    problems = []
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} trace={trace}: metrics/units differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"unit {[k for k in want if k in got and got[k] != want[k]]}")
            if r["failed"] != 0 or not r["correct"]:
                problems.append(f"{w['name']} trace={trace}: {r['failed']} of "
                                f"{r['attempted']} ops failed")
            print(f"{w['name']:14s} trace={trace}: {len(got)} metrics, "
                  f"{r['failed']}/{r['attempted']} failed")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
