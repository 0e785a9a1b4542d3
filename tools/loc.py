#!/usr/bin/env python3
"""Non-blank non-comment Scala lines per package.

Usage: loc.py [repo_dir]

Counts every `*.scala` file under `src/main/scala` and `src/test/scala`
of the repo (default: the parent of this script's directory) and prints
one line per package directory, then a total per tree and for `src/`.

A line counts unless it is blank or starts, after leading whitespace,
with `//`, `*` or `/*` -- the rule of

    grep -rhv -E '^\\s*(//|\\*|/\\*)' src/main --include=*.scala | grep -cv '^\\s*$'

that the size figures in ROADMAP.md and CHANGES.md use. A `/* ... */`
comment's continuation lines that do not start with `*`, and comments
after code on the same line, count as code.
"""
import os
import re
import sys
from collections import Counter

COMMENT = re.compile(r"^\s*(//|\*|/\*)")


def count_file(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if line.strip() and not COMMENT.match(line))


def count_tree(root):
    """Lines per package (the directory under `root`, dotted)."""
    per = Counter()
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                pkg = os.path.relpath(d, root).replace(os.sep, ".")
                per[pkg] += count_file(os.path.join(d, name))
    return per


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    total = 0
    for tree in ("main", "test"):
        per = count_tree(os.path.join(repo, "src", tree, "scala"))
        n = sum(per.values())
        total += n
        for pkg in sorted(per):
            print(f"src/{tree:<5} {pkg:<28} {per[pkg]:>6,}")
        print(f"src/{tree:<5} {'(total)':<28} {n:>6,}")
    print(f"src       {'(total)':<28} {total:>6,}")


if __name__ == "__main__":
    main()
