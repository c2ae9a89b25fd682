#!/usr/bin/env python3
"""Pass-2 rows of a `graft.Prof graph-incr` log, every fifth batch plus the
last, and the median upsert wall of batches 0-9 and 40-49.

Usage: python3 prof_table.py <prof log>
"""
import re
import statistics
import sys

LINE = re.compile(r"\[graph-incr\] pass 2 batch (\d+) \((\d+) vecs\): ([\d.]+) s, wrote (\d+) KiB of "
                  r"(\d+) KiB live \((\d+) touched buckets\); live files graph=(\d+) vectors=(\d+) "
                  r"signs=(\d+) bands=(\d+)")
rows = [m.groups() for m in map(LINE.match, open(sys.argv[1])) if m]
print("| batch | vecs | upsert s | graph KiB written / live | touched buckets | graph files "
      "| vectors files | signs files | bands files |")
print("|---|---|---|---|---|---|---|---|---|")
for b, v, s, w, lv, t, g, vf, sf, bf in rows:
    if int(b) % 5 == 0 or int(b) == len(rows) - 1:
        print(f"| {b} | {v} | {s} | {w} / {lv} | {t} | {g} | {vf} | {sf} | {bf} |")
walls = [float(r[2]) for r in rows]
print(f"\nmedian upsert s, batches 0-9: {statistics.median(walls[:10]):.2f}; "
      f"batches 40-49: {statistics.median(walls[40:50]):.2f}")
