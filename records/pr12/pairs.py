#!/usr/bin/env python3
"""Summarize alternating parent/change perfbench pairs from a campaign log:
one line per run, `<side> <workload> <seed> <loadavg> <perfbench JSON line>`.
Per end-to-end metric: medians with quartiles (statistics.quantiles n=4),
change/parent, pairs where the change is better, and the parent's Q3−Q1.

Usage: python3 pairs.py <campaign.log> <workload>
"""
import json
import statistics
import sys

LOWER = {"setup_s", "p50_ms", "peak_rss_mb", "stored_bytes_ratio"}


def main(path, workload):
    runs = {}
    for line in open(path):
        parts = line.split(" ", 4)
        if len(parts) < 5 or parts[1] != workload or not parts[4].startswith("{"):
            continue
        side, _, seed, load, js = parts
        d = json.loads(js)
        runs.setdefault(seed, {})[side] = (d, float(load))
    # a traced run (--trace 1) reports no end-to-end metrics: not a pair
    pairs = {s: r for s, r in runs.items() if "parent" in r and "change" in r
             and all("p50_ms" in r[side][0]["metrics"] for side in r)}
    ok = all(r[side][0]["correct"] and r[side][0]["failed"] == 0
             for r in pairs.values() for side in r)
    print(f"{workload}: {len(pairs)} pairs, every run correct with 0 failed: {ok}")
    print("| metric | parent median [Q1, Q3] | change median [Q1, Q3] | change/parent "
          "| change better in | parent Q3−Q1 |")
    print("|---|---|---|---|---|---|")
    metrics = next(iter(pairs.values()))["parent"][0]["metrics"].keys()
    for m in metrics:
        p = [r["parent"][0]["metrics"][m]["value"] for r in pairs.values()]
        c = [r["change"][0]["metrics"][m]["value"] for r in pairs.values()]
        better = sum((cv < pv) if m in LOWER else (cv > pv) for pv, cv in zip(p, c))
        qp, qc = statistics.quantiles(p, n=4), statistics.quantiles(c, n=4)
        mp, mc = statistics.median(p), statistics.median(c)
        print(f"| {m} | {mp:.4g} [{qp[0]:.4g}, {qp[2]:.4g}] | {mc:.4g} [{qc[0]:.4g}, {qc[2]:.4g}] "
              f"| {mc / mp:.3f} | {better}/{len(pairs)} | {qp[2] - qp[0]:.4g} |")
    print()
    print("| seed | parent loadavg | change loadavg | parent p50_ms | change p50_ms |")
    print("|---|---|---|---|---|")
    for s in sorted(pairs):
        r = pairs[s]
        print(f"| {s} | {r['parent'][1]} | {r['change'][1]} | "
              f"{r['parent'][0]['metrics']['p50_ms']['value']:.0f} | "
              f"{r['change'][0]['metrics']['p50_ms']['value']:.0f} |")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
