#!/usr/bin/env python3
"""Regenerates the reference fingerprints in refs.json.

For each named workload (all when none is named) the benchmark runs twice,
with two different seeds, and dumps the fingerprint of every query's
output. A query whose fingerprint repeats across both runs gets it as its
reference; a query whose row count repeats but whose fingerprint does not
is checked on row count only and listed; a query whose row count does not
repeat is reported and left without a reference, so it fails the check.

    python3 graftbench/make_refs.py [WORKLOAD ...]

Run from the repository root, on a commit whose outputs are known to be
right (for queries with an oracle, compare them with DuckDB first).
"""

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = (11, 12)


def fingerprints(workload, seed, path):
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--dump-fingerprints", path],
        stdout=subprocess.DEVNULL, check=True)
    with open(path) as fh:
        return json.load(fh)


def main():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = sys.argv[1:] or sorted(json.load(fh))
    refs_path = os.path.join(HERE, "refs.json")
    with open(refs_path) as fh:
        refs = json.load(fh)
    unstable = []
    with tempfile.TemporaryDirectory(dir=os.path.join(os.path.dirname(HERE),
                                                      ".bench_build")) as tmp:
        for w in workloads:
            a, b = (fingerprints(w, s, os.path.join(tmp, f"{w}-{s}.json"))
                    for s in SEEDS)
            refs[w] = {}
            for q in sorted(a):
                x, y = a[q], b[q]
                if "error" in x or "error" in y or x["rows"] != y["rows"]:
                    print(f"{w} {q}: output does not repeat: {x} vs {y}")
                elif x["fp"] == y["fp"]:
                    refs[w][q] = {"rows": x["rows"], "fp": x["fp"]}
                else:
                    refs[w][q] = {"rows": x["rows"]}
                    unstable.append(f"{w}/{q}")
    with open(refs_path, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("checked on row count only:", ", ".join(unstable) or "none")


if __name__ == "__main__":
    main()
