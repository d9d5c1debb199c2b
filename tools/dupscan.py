#!/usr/bin/env python3
"""Per-file duplicate-line scan over the main Scala sources.

Each file is reduced to its stripped lines, with blank lines and lines
that hold only a bracket or a triple quote ({ } ( ) }) ), }, \"\"\" \"\"\"))
left out. A window is 6 consecutive kept lines; a window whose text
occurs more than once in the same file is repeated, and every kept line
that falls inside a repeated window is counted once. The script prints
one "<count> <file>" line per file, largest first, then the total.

Given a single .scala file instead of a directory, it prints that
file's count and then one line per repeated block (a run of counted
lines with no uncounted kept line between them): "<first>-<last>
<text of the first line>", with 1-based line numbers of the file.

Usage: python3 tools/dupscan.py [root | file.scala]   (default src/main/scala)
"""
import collections
import os
import sys

WINDOW = 6
SKIP = {"{", "}", "(", ")", "})", "),", "},", '"""', '""")'}


def repeated_blocks(path):
    """The repeated blocks of one file as (first, last, text) triples,
    with 1-based line numbers, plus the number of counted lines."""
    with open(path, encoding="utf-8") as f:
        kept = [(n, l.strip()) for n, l in enumerate(f, 1)]
    kept = [(n, l) for n, l in kept if l and l not in SKIP]
    wins = collections.defaultdict(list)
    for i in range(len(kept) - WINDOW + 1):
        wins[tuple(l for _, l in kept[i:i + WINDOW])].append(i)
    hit = set()
    for starts in wins.values():
        if len(starts) > 1:
            for i in starts:
                hit.update(range(i, i + WINDOW))
    blocks = []
    for i in sorted(hit):
        if blocks and blocks[-1][1] == i - 1:
            blocks[-1][1] = i
        else:
            blocks.append([i, i])
    return ([(kept[a][0], kept[b][0], kept[a][1]) for a, b in blocks],
            len(hit))


def repeated_lines(path):
    return repeated_blocks(path)[1]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    if os.path.isfile(root) and root.endswith(".scala"):
        blocks, n = repeated_blocks(root)
        print(n, root)
        for first, last, text in blocks:
            print(f"  {first}-{last} {text}")
        return
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
