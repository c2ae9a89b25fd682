#!/usr/bin/env python3
"""Median wall of warm reps 4-6 over every TimeQ round of each side, and
the jobs per rep (all distinct values, rep 1 in parentheses when it differs).

Usage: python3 timeq_table.py <dir with timeq_{parent,change}_<round>.log>
"""
import collections
import glob
import os
import re
import statistics
import sys

LINE = re.compile(r"\[timeq\] (\S+) rep(\d+): ([\d.]+) s \(\d+ rows\) (\d+) jobs")


def side(d, s):
    wall, jobs = collections.defaultdict(list), collections.defaultdict(lambda: ([], []))
    for p in sorted(glob.glob(os.path.join(d, f"timeq_{s}_*.log"))):
        for m in map(LINE.match, open(p)):
            if m:
                q, rep, t, j = m.group(1), int(m.group(2)), float(m.group(3)), int(m.group(4))
                if rep >= 4:
                    wall[q].append(t)
                jobs[q][rep == 1].append(j)
    return wall, jobs


def fmt_jobs(j):
    warm, first = sorted(set(j[0])), sorted(set(j[1]))
    s = "/".join(map(str, warm))
    return s if first == warm else f"{s} ({'/'.join(map(str, first))} on rep 1)"


d = sys.argv[1]
pw, pj = side(d, "parent")
cw, cj = side(d, "change")
print("| query | parent s | change s | change/parent | parent jobs | change jobs | reps per side |")
print("|---|---|---|---|---|---|---|")
for q in pw:
    mp, mc = statistics.median(pw[q]), statistics.median(cw[q])
    print(f"| `{q}` | {mp:.2f} | {mc:.2f} | {mc / mp:.2f} | {fmt_jobs(pj[q])} | {fmt_jobs(cj[q])} | "
          f"{len(pw[q])} |")
