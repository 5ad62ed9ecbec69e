#!/usr/bin/env python3
"""The benchmark's own test: structural counts must repeat exactly.

Runs the traced benchmark twice on one seed for each named workload and
requires the counts below to be identical between the two runs. A count
that does not repeat is named in the output and fails the test.

    python3 graftbench/test_counts.py [--seed N] [--seconds S] [WORKLOAD ...]

Run from the repository root; with no workload named, all of them run.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ["driver.jobs", "driver.stages", "driver.tasks", "catalyst.exchanges",
          "catalyst.plan_nodes", "stream.batches", "shuffle.write_mb",
          "shuffle.read_mb"]


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["context"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = a.workloads or sorted(json.load(fh))
    failures = []
    for w in workloads:
        runs = [traced_run(w, a.seed, a.seconds) for _ in range(2)]
        for i, (res, _) in enumerate(runs):
            if not res["correct"]:
                failures.append(f"{w}: run {i + 1} failed its output check")
        first, second = (r[0]["metrics"] for r in runs)
        for name in COUNTS:
            a1, a2 = first[name]["value"], second[name]["value"]
            status = "ok" if a1 == a2 else "DIFFERS"
            print(f"{w:12s} {name:22s} {a1!r:>14} {a2!r:>14} {status}")
            if a1 != a2:
                failures.append(f"{w}: {name} {a1!r} vs {a2!r}")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
