#!/usr/bin/env python3
"""Duplicate-block inventory of a Scala source tree.

Usage: python3 tools/clones.py [root]      (default: src/main)

Each line is normalised: comment and blank lines are dropped,
whitespace is collapsed, and lone closers such as `}` `)` `|` are
dropped. A normalised line counts as duplicated when it lies in a
5-line window that occurs two or more times in the tree. Counted lines
that are adjacent in one file form a range.

Prints the code-line count (no comments or blank lines), the duplicate
total, then each range as `file:first-last (n lines)`. It is a report,
not a gate: it always exits 0.
"""
import os
import re
import signal
import sys
from collections import defaultdict

WINDOW = 5
CLOSER = re.compile(r"^[\s})\]|,;]*$")


def code_lines(path):
    """(lineno, text) of every non-blank, non-comment line."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                    s = s.split("*/", 1)[1].strip()
                else:
                    continue
            if s.startswith("/*"):
                if "*/" not in s:
                    in_block = True
                    continue
                s = s.split("*/", 1)[1].strip()
            if not s or s.startswith("//"):
                continue
            out.append((no, s))
    return out


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    files = {}
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                files[p] = code_lines(p)
    total = sum(len(v) for v in files.values())
    # the normalised stream each window slides over
    norm = {p: [(no, " ".join(s.split())) for no, s in v
                if not CLOSER.match(s)] for p, v in files.items()}
    seen = defaultdict(int)
    for v in norm.values():
        for i in range(len(v) - WINDOW + 1):
            seen[tuple(s for _, s in v[i:i + WINDOW])] += 1
    ranges = []
    for p in sorted(norm):
        v, hit = norm[p], [False] * len(norm[p])
        for i in range(len(v) - WINDOW + 1):
            if seen[tuple(s for _, s in v[i:i + WINDOW])] > 1:
                for j in range(i, i + WINDOW):
                    hit[j] = True
        i = 0
        while i < len(v):
            if hit[i]:
                j = i
                while j + 1 < len(v) and hit[j + 1]:
                    j += 1
                ranges.append((p, v[i][0], v[j][0], j - i + 1))
                i = j + 1
            else:
                i += 1
    dup = sum(r[3] for r in ranges)
    print(f"{root}: {total} code lines; {dup} duplicated lines "
          f"in {len(ranges)} ranges")
    for p, a, b, n in ranges:
        print(f"  {p}:{a}-{b} ({n} lines)")


if __name__ == "__main__":
    main()
