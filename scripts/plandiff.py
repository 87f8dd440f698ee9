#!/usr/bin/env python3
"""Diff two `Explain` dumps with their run-to-run noise masked.

Usage: scripts/plandiff.py A B

A and B are outputs of `scripts/run.sh Explain ...` (or one query's section
of one). Before comparing, each file has these masked, since they change
between runs of the same plan:
  - expression ids (`k#11`, `count#101L` -> `k#N`, `count#NL`);
  - exchange plan ids (`plan_id=124` -> `plan_id=N`);
  - whole-stage codegen ids (`*(3)` -> `*(N)`);
  - AQE query-stage numbers (`ShuffleQueryStage 4` -> `ShuffleQueryStage N`);
  - temp-dir suffixes (`..._local-1729..` -> `..._local-N`, UUIDs -> UUID).
Prints the unified diff of the masked plans (or that they are equal), then
the `jobs:` line of each file. Exits 0 when the masked plans are equal and
1 when they differ.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"local-\d+"), "local-N"),
]
JOBS = re.compile(r"^-+ jobs: .*$")


def masked(lines):
    out = []
    for line in lines:
        for pattern, repl in MASKS:
            line = pattern.sub(repl, line)
        out.append(line)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_path, b_path = sys.argv[1:]
    with open(a_path, encoding="utf-8") as f:
        a = f.read().splitlines()
    with open(b_path, encoding="utf-8") as f:
        b = f.read().splitlines()
    diff = list(difflib.unified_diff(masked(a), masked(b), a_path, b_path,
                                     lineterm=""))
    print("\n".join(diff) if diff else "plans equal after masking")
    for path, lines in ((a_path, a), (b_path, b)):
        jobs = [line.strip("- ") for line in lines if JOBS.match(line)]
        print(f"{path}: {', '.join(jobs) or 'no jobs line'}")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
