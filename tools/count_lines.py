#!/usr/bin/env python3
"""Non-comment line counts, the figure ROADMAP.md and CHANGES.md cite.

A line counts when it is not blank and, after leading whitespace, does not
start with `//`, `/*` or `*` (Scala line and block comments, scaladoc).
Oracle SQL inside string literals counts: it is code.

Usage: tools/count_lines.py [path ...]
Each path is a file or a directory (searched for *.scala). With no path,
src/main of the repository is counted. Prints one line per file, then the
total.
"""
import os
import sys

COMMENT_PREFIXES = ("//", "/*", "*")


def count(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(COMMENT_PREFIXES):
                n += 1
    return n


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(repo, "src", "main")]
    total = 0
    for f in files(paths):
        n = count(f)
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
