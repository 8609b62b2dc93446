#!/usr/bin/env python3
"""Duplicate-window report for the Scala sources.

Lists every run of at least WINDOW (4) consecutive normalised code
lines that appears more than once under ROOT (src/main), grouped by the set of
files it appears in. Comments, imports, blank lines, lines of closing
punctuation only and oracle-SQL ``|`` lines (stripMargin text) are
skipped before matching; whitespace runs collapse to one space. It is a
report for finding written-out twins, not a gate: it always exits 0.

    python3 scripts/dupwindows.py
"""
import os
import re
from collections import defaultdict

ROOT = "src/main"
WINDOW = 4
PUNCT_ONLY = re.compile(r"^[\s{}()\[\],;]*$")


def code_lines(path):
    """(line number, normalised text) of the lines that take part in matching."""
    out = []
    in_block = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            if (not s or s.startswith("//") or s.startswith("*") or s.startswith("import ")
                    or s.startswith("|") or PUNCT_ONLY.match(s)):
                continue
            out.append((no, re.sub(r"\s+", " ", s)))
    return out


def main():
    win = WINDOW
    files = {}
    for d, _, names in os.walk(ROOT):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                files[os.path.relpath(p)] = code_lines(p)
    where = defaultdict(list)  # window text -> [(file, index of first line)]
    for f, lines in sorted(files.items()):
        for i in range(len(lines) - win + 1):
            where[tuple(t for _, t in lines[i:i + win])].append((f, i))
    dup = {k: tuple(v) for k, v in where.items() if len(v) > 1}
    occ = set(dup.values())

    def shifted(locs, d):
        return tuple((f, i + d) for f, i in locs)

    groups = defaultdict(list)  # file set -> [(length, locations)]
    for locs in occ:
        if shifted(locs, -1) in occ:
            continue  # not the first window of its run
        n = 1
        while shifted(locs, n) in occ:
            n += 1
        length = n + win - 1
        spans = [(f, files[f][i][0], files[f][i + length - 1][0]) for f, i in locs]
        first = files[locs[0][0]][locs[0][1]][1]
        groups[tuple(sorted({f for f, _ in locs}))].append((length, spans, first))
    total = 0
    for fileset, runs in sorted(groups.items(), key=lambda g: -max(r[0] for r in g[1])):
        print(" + ".join(fileset))
        for length, spans, first in sorted(runs, key=lambda r: (-r[0], r[1])):
            total += 1
            at = ", ".join(f"{f}:{a}-{b}" for f, a, b in spans)
            print(f"  {length:3d} lines  {at}")
            print(f"             {first[:100]}")
    print(f"{total} repeated runs of >= {win} code lines in {len(groups)} file sets")


if __name__ == "__main__":
    main()
