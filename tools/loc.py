#!/usr/bin/env python3
"""Non-blank, non-comment Scala line counts per directory.

    python3 tools/loc.py [ROOT ...]

ROOT defaults to src/main/scala. For each ROOT it prints the total, then
one line per package directory below it (recursive totals), so
`lucy/index` counts every file under src/main/scala/lucy/index.

A line counts unless, stripped of surrounding whitespace, it is empty or
starts with `//`, `/*` or `*` (the lines of a `/* ... */` or `/** ... */`
comment, written with the usual leading `*`). Code followed by a
trailing comment counts.
"""
import sys
from collections import Counter
from pathlib import Path


def code_lines(path):
    n = 0
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def report(root):
    root = Path(root)
    per_dir = Counter()
    total = 0
    for f in sorted(root.rglob("*.scala")):
        n = code_lines(f)
        total += n
        rel = f.parent.relative_to(root)
        while rel.parts:
            per_dir[rel.as_posix()] += n
            rel = rel.parent
    print(f"{root.as_posix()}\t{total}")
    for d in sorted(per_dir):
        print(f"  {d}\t{per_dir[d]}")


if __name__ == "__main__":
    for r in sys.argv[1:] or ["src/main/scala"]:
        report(r)
