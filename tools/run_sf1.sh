#!/bin/bash
# Full-surface one-decade-up gate: every SparkEntry query, ONE run, at sf1
# (generated with `python3 tools/gen_sf.py out/sf1 1.0`) — engine first,
# then the DuckDB oracle per query. One record exercises cross-operator
# interactions (artifact dirs, cache pressure, disk) as a set.
#
# Defaults come from the host: cores = nproc, driver memory = half of
# MemTotal clamped to 2–8 GB. Override with
# SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM; SF_DIR picks the data dir.
#
# Usage: tools/run_sf1.sh [outDir=out/verify_sf1] [query...]
set -u
cd "$(dirname "$0")/.."
SF=${SF_DIR:-out/sf1}
OUT=${1:-out/verify_sf1}
shift 2>/dev/null || true
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}

mkdir -p "$OUT"
t0=$(date +%s)
sbt -batch "runMain graft.Verify $SF $OUT $*" > "$OUT/engine.log" 2>&1
rc=$?
echo "engine rc=$rc wall=$(( $(date +%s) - t0 ))s cpus=$SPARK_GRAFT_CPUS mem=$SPARK_DRIVER_MEM" | tee "$OUT/gate.log"
[ $rc -ne 0 ] && { grep -E "error:|Exception" "$OUT/engine.log" | head -5; exit $rc; }

# oracle pass, one query at a time: a single heavy DuckDB oracle that
# exhausts the box fails that row ALONE (fresh connection per query), and
# per-query wall lands in gate.log. Queries come from the dump the engine
# just wrote (never drifts from SparkEntry), or the explicit query filter.
if [ $# -gt 0 ]; then
  QUERIES="$*"
else
  QUERIES=$(python3 -c "import json;print(' '.join(sorted(json.load(open('$OUT/oracle_sql.json')))))")
fi
for q in $QUERIES; do
  t1=$(date +%s)
  res=$(python3 tools/oracle_check.py "$SF" "$OUT" "$q" 2>&1 | grep -E "^(PASS|FAIL|WARN)")
  # a crashed/OOM'd oracle prints NO verdict line — count it as a failure,
  # never as silence
  [ -z "$res" ] && res="FAIL $q (no verdict line)"
  echo "$res [$(( $(date +%s) - t1 ))s]" | tee -a "$OUT/gate.log"
done
echo "== $(grep -c '^PASS' "$OUT/gate.log") pass / $(grep -c -E '^(FAIL|WARN)' "$OUT/gate.log") fail ==" \
  | tee -a "$OUT/gate.log"
