#!/usr/bin/env python3
"""Split probe timelines into phases.

usage: phases.py <probe.jsonl> parent|change

Reads the timelines ProbeSpec.scala.txt writes (a spec run with PROBE_OUT
set, on an sf0.001 380-vector base, three upserts of 40 vectors with a
graph search after each).
upsertStored: jobs classified by call site into consecutive phases; each
phase's time runs from the previous phase's last job end (or the call
start) to its own last job end; the commit phase ends with the call.
graphSearch: per query, planning (analysis + optimization + planning
from the QueryExecution tracker), file listing (scan metadataTime), and
the rest of the driver time outside jobs; plus in-job scheduling delay
(job start -> first task start).
"""
import json, re, sys

rows = [json.loads(l) for l in open(sys.argv[1])]
side = sys.argv[2]

# the probe writes each call's line, then the events recorded during it
calls = []
for r in rows:
    if r["ev"] == "call":
        calls.append([r, []])
    else:
        calls[-1][1].append(r)


def classify(jobs, side):
    """Sequential phases by marker jobs (AQE submits shuffle-stage jobs from
    its own threads, so most jobs carry no call site of the code)."""
    out, phase, n_pre = {}, "prelude", 0
    for j in sorted(jobs):
        site = jobs[j]["site"]
        if "GraphLayout.scala:2" in site and site.startswith("parquet"):
            out[j] = "table registration"
            continue
        if side == "parent":
            if phase == "prelude":
                n_pre += 1
                out[j] = "prelude"
                if n_pre == 3:
                    phase = "delta"
                continue
            out[j] = phase
            if phase == "delta" and "GraphLayout.scala:508" in site:
                phase = "touched + keep schema"
            elif phase == "touched + keep schema" and "GraphLayout.scala:525" in site:
                phase = "commits"
        else:
            if "NnDescent" in site:
                phase = "delta"
            elif phase == "delta":
                phase = "commits"
            out[j] = phase
    return out


for call, evs in calls:
    what = call["what"]
    t0, t1 = call["t0"], call["t1"]
    jobs = {}
    for e in evs:
        if e["ev"] == "js":
            jobs[e["job"]] = {"start": e["t"], "site": e["site"]}
        elif e["ev"] == "je" and e["job"] in jobs:
            jobs[e["job"]]["end"] = e["t"]
    if what == "upsertStored":
        order, seen = [], {}
        cls = classify(jobs, side)
        for j in sorted(jobs):
            ph = cls[j]
            if ph not in seen:
                seen[ph] = []
                order.append(ph)
            seen[ph].append(jobs[j])
        prev = t0
        parts = []
        for ph in order:
            end = t1 if ph == "commits" else max(x["end"] for x in seen[ph])
            parts.append(f"{ph}: {len(seen[ph])} jobs {end - prev:.0f} ms")
            prev = end
        print(f"{side} upsertStored call {call['i']}: {len(jobs)} jobs, {t1 - t0:.0f} ms | " + "; ".join(parts))
    else:
        qs = [e for e in evs if e["ev"] == "q"]
        in_jobs = sum(j["end"] - j["start"] for j in jobs.values() if "end" in j)
        driver = (t1 - t0) - in_jobs
        plan = sum(q.get("analysis", 0) + q.get("optimization", 0) + q.get("planning", 0) for q in qs)
        listing = sum(q.get("metadata_ms", 0) for q in qs)
        # scheduling delay inside jobs: job start -> first task start of its stages
        first_task = {}
        stage_job = {}
        cur = None
        for e in evs:
            if e["ev"] == "js":
                cur = e["job"]
            if e["ev"] == "ss":
                stage_job[e["stage"]] = cur
            if e["ev"] == "ts":
                jb = stage_job.get(e["stage"])
                if jb is not None and jb not in first_task:
                    first_task[jb] = e["t"]
        sched = sum(first_task[j] - jobs[j]["start"] for j in first_task if j in jobs)
        print(f"{side} graphSearch call {call['i']}: {len(jobs)} jobs, wall {t1 - t0:.0f} ms, "
              f"in jobs {in_jobs:.0f} ms (of which job start -> first task {sched:.0f} ms), "
              f"driver outside jobs {driver:.0f} ms = planning {plan:.0f} + file listing {listing:.0f} "
              f"+ codegen compile {call.get('codegen_ms', 0):.0f} + rest {driver - plan - listing - call.get('codegen_ms', 0):.0f} ms; {len(qs)} queries")
        for q in qs:
            print("    ", {k: q[k] for k in q if k not in ("ev",)})
