#!/usr/bin/env python3
"""Compare two sets of formatted-explain dumps query by query.

Each directory holds the files `graft.Plans sfDir q_a,q_b outDir tag`
writes: `<query>_<tag>.txt`, the unexecuted `explain("formatted")` text
of each query. Before comparing, the text is normalized for what
differs between two runs of the same plan:

  - expression ids (`vec_id#123L` -> `vec_id#N`),
  - exchange and broadcast ids (`[plan_id=42]`, `Broadcast(315)`),
  - the 8-hex per-call tags of temp functions and written files
    (`graft_x_1a2b3c4d`, `cmp_1a2b3c4d_0.parquet`),
  - the per-process scratch directory (`graft_12345`).

Usage: plan_diff.py BEFORE_DIR AFTER_DIR [--show N]

Prints `identical` or `changed` for every query present in both
directories (and `only-before` / `only-after` for the rest), with the
first N differing lines of each changed query (default 6). Exits 1 when
any query changed or is missing on one side.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),
    (re.compile(r"\bgraft_\d+\b"), "graft_PID"),
    (re.compile(r"(?<=_)[0-9a-f]{8}(?=_|\b)"), "TAG"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines()


def dumps(d):
    """query name -> path, for every `<query>_<tag>.txt` in `d`."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-4].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    show = 6
    if "--show" in argv:
        show = int(argv[argv.index("--show") + 1])
        args.remove(str(show))
    if len(args) != 2:
        sys.exit(__doc__)
    before, after = dumps(args[0]), dumps(args[1])
    bad = 0
    for q in sorted(before.keys() | after.keys()):
        if q not in after:
            print(f"only-before {q}")
            bad += 1
            continue
        if q not in before:
            print(f"only-after  {q}")
            bad += 1
            continue
        with open(before[q]) as fb, open(after[q]) as fa:
            b, a = normalize(fb.read()), normalize(fa.read())
        if a == b:
            print(f"identical   {q}")
            continue
        bad += 1
        print(f"changed     {q}")
        diff = [line for line in difflib.unified_diff(b, a, lineterm="", n=0)
                if line[:1] in "+-" and line[:3] not in ("+++", "---")]
        for line in diff[:show]:
            print(f"    {line[:200]}")
        if len(diff) > show:
            print(f"    ... {len(diff) - show} more differing lines")
    n = len(before.keys() | after.keys())
    print(f"== {n - bad} identical, {bad} changed or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
