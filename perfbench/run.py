#!/usr/bin/env python3
"""Repository benchmark: seeded workloads against the engine's public entry
points, timed end to end, checked off the clock, with a traced mode that
splits op time over Spark jobs, planning and the engine's layers.

Usage (from the repository root):

    python3 perfbench/run.py --workload search|ingest|maintain|curate|all \
        --seed N --seconds S --trace 0|1

The first run in a checkout compiles the engine's sources with the harness
(`perfbench/build.sbt`); later runs reuse the compiled classes. Every run
writes its full record to a new file under `perfbench/results/` and prints
one JSON object as the last line of standard output. Metric definitions are
in `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
RUN_DEADLINE_S = 170  # a run must exit within 180 s; the JVM is stopped before this
PROBE_MARGIN_S = 75  # traced runs skip their probes when less time than this is left

# Input sizes per workload; every input is generated from the run's seed.
WORKLOADS = {
    "search": {"files": 200, "batches": 1, "batch_files": 4, "probe_docs": 300},
    "ingest": {"files": 200, "batches": 20, "batch_files": 4},
    "maintain": {"base_docs": 300, "batch_docs": 100, "base_vecs": 500, "batch_vecs": 40,
                 "batches": 8},
    "curate": {"docs": 1000},
}

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("p50_ms", "ms"), ("peak_rss_mb", "MB"),
              ("stored_bytes_ratio", "ratio")]
PER_LAYER = [("spark.plan_ms", "ms"), ("spark.driver_ms", "ms"), ("spark.jobs", "count"),
             ("spark.tasks", "count"), ("spark.task_ms", "ms"), ("spark.input_bytes", "bytes"),
             ("spark.output_bytes", "bytes"), ("spark.shuffle_bytes", "bytes"),
             ("spark.spill_bytes", "bytes"), ("jvm.gc_ms", "ms"), ("files_live", "count"),
             ("trace.overhead_frac", "ratio")]

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (first run in this checkout)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if "/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.exit(f"build failed (see {BUILD}/build.log)")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def jvm_pids():
    """Live JVMs of this benchmark or of the engine's own mains."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and ("perfbench.Main" in cmd or " graft." in cmd):
            pids.append(int(d))
    return pids


def hygiene():
    """Flag leftover JVMs; sweep dead runs' scratch only when none is alive."""
    alive = jvm_pids()
    if alive:
        log(f"WARNING: leftover JVMs alive {alive}; this run is flagged")
    elif os.path.isdir(WORK):
        for d in os.listdir(WORK):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    return alive


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies():
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def generate(workload, work, seed, trace):
    import gen
    k = WORKLOADS[workload]
    if workload in ("search", "ingest"):
        sizes = gen.code_tree(work, seed, k["files"], k.get("batches", 0), k.get("batch_files", 4))
        if trace and "probe_docs" in k:  # documents for the curation probe
            sizes["probe"] = gen.corpus(work, seed, k["probe_docs"])
        return sizes
    if workload == "maintain":
        return gen.corpus(work, seed, k["base_docs"] + k["batches"] * k["batch_docs"],
                          k["base_vecs"] + k["batches"] * k["batch_vecs"])
    return gen.corpus(work, seed, k["docs"])


def run_jvm(cp, workload, work, seed, seconds, trace, deadline):
    knobs = [f"{k}={v}" for k, v in WORKLOADS[workload].items()]
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JAVA_OPENS +
           ["-cp", cp, "perfbench.Main", f"workload={workload}", f"dir={work}",
            f"seconds={seconds}", f"trace={int(trace)}", f"seed={seed}",
            f"probe_by={int((deadline - PROBE_MARGIN_S) * 1000)}"] + knobs)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None, "JVM exceeded the run deadline"
        finally:
            # never leave the JVM behind: deadline, error or SIGTERM
            if p.poll() is None:
                p.kill()
                p.wait()
    path = f"{work}/jvm_result.json"
    if p.returncode != 0 or not os.path.exists(path):
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-3000:]
        return None, f"JVM exited with {p.returncode}:\n{tail}"
    with open(path) as f:
        return json.load(f), None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(res, check_errors, trace):
    """End-to-end metrics (trace 0) or per-layer metrics (trace 1)."""
    ops = res["ops"]
    for i, e in check_errors.items():
        if not ops[i]["error"]:
            ops[i]["error"] = e
    timed = [o for o in ops if o["phase"] == "timed"]
    primary = set(res["primary"])
    p50 = median([o["ms"] for o in timed if o["kind"] in primary])
    e2e = {
        "setup_s": res["setup_s"],
        "ops_per_s": len(timed) / (sum(o["ms"] for o in timed) / 1e3),
        "p50_ms": p50,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layer = {}
    if trace:
        spans = res["layers"]["spans"]
        roots = [s for s in spans if s["parent"] == 0 and s["name"] != "probes"]
        for name, _ in PER_LAYER:
            vals = [s[name] for s in roots if name in s]
            if vals:
                layer[name] = sum(vals) / len(vals)
        layer["files_live"] = res["metrics"].get("files_live", 0)
        traced = [o for o in ops if o["phase"] == "traced" and o["kind"] in primary]
        layer["trace.overhead_frac"] = median([o["ms"] for o in traced]) / p50 - 1.0
    return ops, e2e, layer


def run_one(cp, workload, seed, seconds, trace, leftover):
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    run_id = f"{stamp}-{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    os.makedirs(work)
    deadline = time.time() + RUN_DEADLINE_S
    try:
        t = time.time()
        sizes = generate(workload, work, seed, trace)
        gen_s = time.time() - t
        load0 = loadavg()
        j0 = cpu_jiffies()
        res, err = run_jvm(cp, workload, work, seed, seconds, trace, deadline)
        j1 = cpu_jiffies()
        if res is None:
            log(err)
            return None
        import check
        t = time.time()
        check_errors, check_finals, check_info = check.run(workload, work, res, seed)
        check_s = time.time() - t
        ops, e2e, layer = summarize(res, check_errors, trace)
        m = res["metrics"]
        if "stored_bytes" in m:
            e2e["stored_bytes_ratio"] = m["stored_bytes_ratio"] = m["stored_bytes"] / m["input_bytes"]
        for msg, kinds in check_finals:
            for o in ops:
                if o["kind"] in kinds and not o["error"]:
                    o["error"] = "final check failed: " + msg
        final_errors = res["final_errors"] + [msg for msg, _ in check_finals]
        failed = [o for o in ops if o["error"]]
        m["failed_frac"] = len(failed) / len(ops)
        for k in ("index_dir", "embed_ctes_sql", "cosine_sql", "oracle_pairs_sql", "oracle_sql",
                  "final_reads"):
            m.pop(k, None)  # inputs of check.py, not results
        record = {
            "run_id": run_id, "workload": workload, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "nproc": res["nproc"], "loadavg_start": load0,
            "loadavg_jvm_start": res["loadavg_start"], "loadavg_end": res["loadavg_end"],
            "steal_frac": (j1[1] - j0[1]) / max(1, j1[0] - j0[0]),
            "leftover_jvms": leftover, "inputs": sizes, "gen_s": gen_s, "check_s": check_s,
            "session_s": res["session_s"], "setup_parts": res["setup_parts"],
            "end_to_end": e2e, "per_layer": layer, "workload_metrics": m,
            "final_errors": final_errors, "checks": check_info,
            "failures": [{"idx": o["idx"], "kind": o["kind"], "error": o["error"]} for o in failed],
            "ops": [{k: o[k] for k in ("idx", "kind", "phase", "ms")} for o in ops],
        }
        if trace:
            record["layers"] = res["layers"]
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, f"{run_id}.json"), "x") as f:
            json.dump(record, f, indent=1)
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric_unit(name):
    """Unit of a per-op-kind figure in `workload_metrics`, from its name."""
    if name.endswith(".n") or name.endswith("files_live") or name.endswith("_buckets"):
        return "count"
    for suffix, unit in (("_ms", "ms"), ("docs_per_s", "docs/s"), ("_s", "s"),
                         ("_bytes", "bytes"), ("_frac", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def report(rec):
    """Human-readable lines on stdout, before the final JSON line."""
    units = dict(END_TO_END + PER_LAYER)
    print(f"== {rec['workload']} seed={rec['seed']} nproc={rec['nproc']} "
          f"load {rec['loadavg_start']:.2f}->{rec['loadavg_end']:.2f} inputs={json.dumps(rec['inputs'])}")
    for k, v in (rec["per_layer"] if rec["trace"] else rec["end_to_end"]).items():
        print(f"  {k:<28} {v:>14.4f} {units.get(k, '')}")
    for k, v in sorted(rec["workload_metrics"].items()):
        if isinstance(v, (int, float)):
            print(f"  {k:<40} {v:>14.4f} {metric_unit(k)}")
    if rec["trace"]:
        for k, v in sorted(rec["layers"]["probes"].items()):
            print(f"  probe {k}: {json.dumps(v)}")
    for f in rec["failures"][:10]:
        print(f"  FAILED op {f['idx']} {f['kind']}: {f['error']}")
    for e in rec["final_errors"]:
        print(f"  FAILED final check: {e}")


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped and the run's
    # scratch removed by the `finally` blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala/graft/Graft.scala", "tools/gen_sf.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"engine source {need} not found under {ROOT}")
    leftover = hygiene()
    cp = build()
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    recs = []
    for w in names:
        rec = run_one(cp, w, a.seed, a.seconds, a.trace, leftover)
        if rec is None:
            sys.exit(f"workload {w} did not complete")
        report(rec)
        recs.append(rec)
    key = "per_layer" if a.trace else "end_to_end"
    units = dict(END_TO_END + PER_LAYER)
    metrics = {}
    for rec in recs:
        prefix = "" if len(recs) == 1 else rec["workload"] + "."
        for k, v in rec[key].items():
            metrics[prefix + k] = {"value": v, "unit": units[k]}
    attempted = sum(len(r["ops"]) for r in recs)
    failed = sum(len(r["failures"]) for r in recs)
    print(json.dumps({"correct": failed == 0 and all(not r["final_errors"] for r in recs),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
