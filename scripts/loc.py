#!/usr/bin/env python3
"""Code lines per Scala file under src/main and src/test, plus a total for each.

A code line is a non-blank line that, once its indentation is stripped, does
not start with `/**`, `*`, `//` or `/*`. Usage: scripts/loc.py [repo root]
(default: the repository this script lives in). Prints one `<lines> <path>`
row per file, then `<lines> total src/main` and `<lines> total src/test`.
"""
import os
import sys

COMMENT_STARTS = ("/**", "*", "//", "/*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.lstrip().startswith(COMMENT_STARTS))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    for tree in ("src/main", "src/test"):
        total = 0
        for dirpath, _, names in sorted(os.walk(os.path.join(root, tree))):
            for name in sorted(names):
                if name.endswith(".scala"):
                    path = os.path.join(dirpath, name)
                    n = code_lines(path)
                    total += n
                    print(f"{n:7d} {os.path.relpath(path, root)}")
        print(f"{total:7d} total {tree}")


if __name__ == "__main__":
    main()
