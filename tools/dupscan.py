#!/usr/bin/env python3
"""Per-file duplicate-line scan over the main Scala sources.

Each file is reduced to its stripped lines, with blank lines and lines
that hold only a bracket or a triple quote ({ } ( ) }) ), }, \"\"\" \"\"\"))
left out. A window is 6 consecutive kept lines; a window whose text
occurs more than once in the same file is repeated, and every kept line
that falls inside a repeated window is counted once. The script prints
one "<count> <file>" line per file, largest first, then the total.

Usage: python3 tools/dupscan.py [root]   (default src/main/scala)
"""
import collections
import os
import sys

WINDOW = 6
SKIP = {"{", "}", "(", ")", "})", "),", "},", '"""', '""")'}


def repeated_lines(path):
    with open(path, encoding="utf-8") as f:
        lines = [l.strip() for l in f]
    kept = [l for l in lines if l and l not in SKIP]
    wins = collections.defaultdict(list)
    for i in range(len(kept) - WINDOW + 1):
        wins[tuple(kept[i:i + WINDOW])].append(i)
    hit = set()
    for starts in wins.values():
        if len(starts) > 1:
            for i in starts:
                hit.update(range(i, i + WINDOW))
    return len(hit)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    counts = []
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                counts.append((repeated_lines(p), os.path.relpath(p, root)))
    counts.sort(key=lambda c: (-c[0], c[1]))
    for n, p in counts:
        if n:
            print(n, p)
    print(sum(n for n, _ in counts), "total")


if __name__ == "__main__":
    main()
