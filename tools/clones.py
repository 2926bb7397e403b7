#!/usr/bin/env python3
"""Print repeated code windows under src/main/scala, grouped by file.

A window is 6 consecutive normalized lines. Normalizing
strips indentation, collapses inner whitespace and drops blank lines,
comment lines and lines made only of brackets, so a pasted block that
was re-indented or re-commented still matches its original. A window
position counts when its normalized text occurs at two or more
positions under src/main/scala. Overlapping counted positions merge into runs.

Usage:
    python3 tools/clones.py [PATH_FILTER ...]    # from the repo root

With PATH_FILTER arguments only files whose path contains one of them
are printed (the windows are still matched across the whole tree).
Each file prints its counted-window total, then one line per run:
its line span, the number of windows in it, and where the first
window of the run occurs elsewhere. The last line is the tree total.
"""
import collections
import os
import re
import sys

ROOT = "src/main/scala"
WINDOW = 6
BRACKETS_ONLY = re.compile(r"^[\s{}()\[\],;]*$")


def normalized_lines(path):
    """(line_number, normalized_text) for the lines that take part in windows."""
    out = []
    in_block_comment = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, start=1):
            s = " ".join(raw.split())
            if in_block_comment:
                if "*/" in s:
                    in_block_comment = False
                continue
            if s.startswith("/*"):
                in_block_comment = "*/" not in s
                continue
            if not s or s.startswith("//") or BRACKETS_ONLY.match(s):
                continue
            out.append((no, s))
    return out


def scan():
    files = []
    for d, _, names in os.walk(ROOT):
        for n in sorted(names):
            if n.endswith((".scala", ".java")):
                files.append(os.path.join(d, n))
    files.sort()
    where = collections.defaultdict(list)  # window text -> [(file, first line)]
    per_file = {}
    for path in files:
        lines = normalized_lines(path)
        wins = []
        for i in range(len(lines) - WINDOW + 1):
            key = "\n".join(t for _, t in lines[i:i + WINDOW])
            start, end = lines[i][0], lines[i + WINDOW - 1][0]
            wins.append((key, start, end))
            where[key].append((path, start))
        per_file[path] = wins
    return files, where, per_file


def runs_of(wins, where):
    """Merge the counted windows of one file into (start, end, count, first key)."""
    runs = []
    for key, start, end in wins:
        if len(where[key]) < 2:
            continue
        if runs and start <= runs[-1][1]:
            s, e, c, k = runs[-1]
            runs[-1] = (s, max(e, end), c + 1, k)
        else:
            runs.append((start, end, 1, key))
    return runs


def main(filters):
    files, where, per_file = scan()
    total = 0
    for path in files:
        runs = runs_of(per_file[path], where)
        n = sum(r[2] for r in runs)
        total += n
        if not runs or (filters and not any(f in path for f in filters)):
            continue
        rel = os.path.relpath(path, ROOT)
        print(f"{rel}: {n} windows in {len(runs)} runs")
        for start, end, count, key in runs:
            others = [f"{os.path.relpath(p, ROOT)}:{ln}" for p, ln in where[key]
                      if not (p == path and ln == start)]
            print(f"  L{start}-{end} ({count} windows) also at {', '.join(others)}")
    print(f"total: {total} repeated {WINDOW}-line windows under {ROOT}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
