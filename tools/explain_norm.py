#!/usr/bin/env python3
r"""Normalize `graft.Explain` output so two builds of one plan diff equal.

stdin -> stdout. Strips what differs between two runs of the same plan:
expression ids (`d1#123L` -> `d1`, `count(1)#79L` -> `count(1)`; a
literal such as `'#1'` keeps its text), `plan_id=` numbers, RDD ids
(`MapPartitionsRDD[33]`), JVM identity hashes (`[[D@8d56ddd`) and source
labels (`Dedup.scala:964` -> `Dedup.scala`). Each ROOT argument (the
checkout a run's artifact paths live under) becomes `<root>`. "Plan
unchanged" is then one diff:

  sbt -batch "runMain graft.Explain <sfDir> q_dedup_minhash" | grep -v "^\[" \
    | python3 tools/explain_norm.py "$PWD" > change.txt
  diff parent.txt change.txt
"""
import re
import sys

RULES = [
    (re.compile(r"(?<=[\w)\]`])#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1"),
]
ROOTS = [re.compile(re.escape(r.rstrip("/"))) for r in sys.argv[1:]]

for line in sys.stdin:
    for pattern in ROOTS:
        line = pattern.sub("<root>", line)
    for pattern, repl in RULES:
        line = pattern.sub(repl, line)
    sys.stdout.write(line)
