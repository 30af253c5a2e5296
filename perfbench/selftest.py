#!/usr/bin/env python3
"""Self-test of the benchmark: a one-pass smoke run of each workload at
sf0.001, plain and traced, then the same run with one expected value
corrupted.

    python3 perfbench/selftest.py [--workloads genetics_chain,heavy_queries]

It asserts that every metric BENCHMARK.json names is printed, with its
unit, in each mode; that the smoke runs pass their correctness gate; and
that a wrong expected digest, row count or oracle row is reported as a
failure rather than a pass. Exits 0 when all hold.
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.getcwd()


def run(workload, trace, inject=False):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace),
           "--scale", "sf0.001", "--min-steady", "0"]
    if inject:
        cmd.append("--inject-mismatch")
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise AssertionError(f"{' '.join(cmd)} exited {r.returncode}: {r.stderr[-800:]}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]) + ",light_queries")
    a = ap.parse_args()
    problems = []
    for w in a.workloads.split(","):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: smoke run failed its gate: {res}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{w} trace={trace}: {m['name']} missing")
                elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} is {got}")
        res = run(w, 0, inject=True)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: an injected mismatch passed the gate: {res}")
        print(f"{w}: checked", flush=True)
    for p in problems:
        print("FAIL " + p)
    print("selftest " + ("failed" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
