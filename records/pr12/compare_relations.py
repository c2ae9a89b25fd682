#!/usr/bin/env python3
"""Compare two stored k-NN-graph artifacts relation by relation: the rows
of graph, vectors, signs and bands (a band row's `pb=` dir included) as
multisets, the data bytes per relation, and each data file's footer
schema (the Spark schema JSON the writer recorded, nullability included).

Usage: python3 compare_relations.py <artifactA> <artifactB>
"""
import collections
import json
import os
import sys

import pyarrow.parquet as pq

RELS = ["graph", "vectors", "signs", "bands"]
SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(root):
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(d, f)


def relation(root):
    rows, nbytes, schemas = collections.Counter(), 0, collections.Counter()
    for p in data_files(root):
        nbytes += os.path.getsize(p)
        pf = pq.ParquetFile(p)
        schemas[pf.metadata.metadata.get(SCHEMA_KEY, b"").decode()] += 1
        pb = [s for s in p[len(root):].split(os.sep) if s.startswith("pb=")]
        for r in pf.read().to_pylist():
            r = {k: (tuple(v) if isinstance(v, list) else v) for k, v in r.items()}
            rows[(tuple(pb), tuple(sorted(r.items())))] += 1
    return rows, nbytes, schemas


def main(a, b):
    ok = True
    print("| relation | rows A | rows B | rows equal | bytes A | bytes B | files A | files B | footer schemas equal |")
    print("|---|---|---|---|---|---|---|---|---|")
    for rel in RELS:
        ra, ba, sa = relation(os.path.join(a, rel))
        rb, bb, sb = relation(os.path.join(b, rel))
        same = ra == rb
        # schema per file, compared as the set of distinct schemas
        same_schema = set(sa) == set(sb)
        ok &= same and ba == bb and same_schema
        print(f"| {rel} | {sum(ra.values())} | {sum(rb.values())} | {same} | {ba} | {bb} | "
              f"{sum(sa.values())} | {sum(sb.values())} | {same_schema} |")
        if not same_schema:
            for s in set(sa) ^ set(sb):
                print(f"  schema only in {'A' if s in sa else 'B'}: {s}")
    print("ALL EQUAL" if ok else "DIFFERENT")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
