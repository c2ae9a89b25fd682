#!/usr/bin/env python3
"""Compare two stored k-NN-graph artifacts relation by relation: the rows
of graph, vectors, signs and bands as multisets (a band row's `pb=` dir is
NOT part of the row: the two artifacts may cut the band relation into a
different number of partitions), plus each relation's data files, `pb=`
dirs and bytes, reported side by side but not required to match.

Usage: python3 compare_relations.py <artifactA> <artifactB>
"""
import collections
import os
import sys

import pyarrow.parquet as pq

RELS = ["graph", "vectors", "signs", "bands"]


def data_files(root):
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(d, f)


def relation(root):
    rows, nbytes, nfiles, pbs = collections.Counter(), 0, 0, set()
    for p in data_files(root):
        nbytes += os.path.getsize(p)
        nfiles += 1
        pbs.update(s for s in p[len(root):].split(os.sep) if s.startswith("pb="))
        for r in pq.ParquetFile(p).read().to_pylist():
            rows[tuple(sorted((k, tuple(v) if isinstance(v, list) else v) for k, v in r.items()))] += 1
    return rows, nbytes, nfiles, len(pbs)


def main(a, b):
    ok = True
    print("| relation | rows A | rows B | rows equal | files A | files B | pb= dirs A | pb= dirs B | bytes A | bytes B |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for rel in RELS:
        ra, ba, fa, pa = relation(os.path.join(a, rel))
        rb, bb, fb, pb = relation(os.path.join(b, rel))
        ok &= ra == rb
        print(f"| {rel} | {sum(ra.values())} | {sum(rb.values())} | {ra == rb} | {fa} | {fb} | "
              f"{pa} | {pb} | {ba} | {bb} |")
    print("ALL ROWS EQUAL" if ok else "ROWS DIFFER")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
