#!/bin/bash
# sf10 campaign runbook: needs ~80 GB of free scratch disk (past runs hit
# ENOSPC at 77 GB), so it does not fit a host with less.
#
# Runs the heavy-tail queries one at a time at sf10 (500k docs, generated
# with `python3 tools/gen_sf.py out/sf10 10.0`), engine only: DuckDB
# cannot run these oracles at 500k docs, so correctness one decade down
# (tools/run_sf1.sh) is the oracle of record. Each query gets the disk
# hygiene guard below and LOUD failure (graft.Verify exits nonzero under
# a query filter, so an ENOSPC never logs as "exit 0").
#
# Defaults come from the host: cores = nproc, driver memory = half of
# MemTotal clamped to 2–8 GB. Override with
# SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM; SF_DIR picks the data dir.
#
# Usage: tools/run_sf10.sh [outDir=out/verify_sf10] [query...]
set -u
cd "$(dirname "$0")/.."
SF=${SF_DIR:-out/sf10}
OUT=${1:-out/verify_sf10}
shift 2>/dev/null || true
QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(q_dedup_minhash q_dedup_ngram q_dedup_ngram_capped
    q_dedup_ngram_adaptive q_dedup_ngram_budget q_dedup_simhash
    q_dedup_embed q_dedup_embed_adaptive q_dedup_semantic q_dedup_recall
    q_pairs_incremental q_span_dedup q_span_removed q_phash_dedup
    q_phash_dedup_wide q_phash_artifact q_stream_pairs
    q_graph_search q_graph_search_filtered q_graph_upsert q_stream_graph
    q_hybrid_rrf q_bm25 q_curation q_pack_sequences q_pii_redact)
fi
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}

# disk guards: sweep leftover Spark shuffle scratch and DuckDB temp ONLY
# when no java/duckdb process is alive (the rm races a starting JVM
# otherwise), then require 40 GB free before each heavy query
sweep() {
  if ! pgrep -x java >/dev/null && ! pgrep -f duckdb >/dev/null; then
    rm -rf /tmp/blockmgr-* /tmp/spark-* .tmp/duckdb_temp_storage* 2>/dev/null
  fi
}
free_gb() { df -BG --output=avail / | tail -1 | tr -dc '0-9'; }

mkdir -p "$OUT"
# append on a filtered retry — a solo re-run must not erase the campaign's
# earlier rows
[ $# -eq 0 ] && : > "$OUT/campaign.log"
for q in "${QUERIES[@]}"; do
  # low disk is often TRANSIENT (a concurrent DuckDB oracle's spill file
  # lives only for the duration of one query — observed eating 40 GB then
  # vanishing): WAIT for space to return, up to 30 min, before skipping
  waited=0
  while :; do
    sweep
    g=$(free_gb)
    [ "$g" -ge 40 ] && break
    if [ "$waited" -ge 1800 ]; then
      echo "$q SKIP disk=${g}G<40G after ${waited}s wait" \
        | tee -a "$OUT/campaign.log"; continue 2
    fi
    sleep 60; waited=$((waited + 60))
  done
  t0=$(date +%s)
  sbt -batch "runMain graft.Verify $SF $OUT $q" > "$OUT/$q.log" 2>&1
  rc=$?
  t1=$(date +%s)
  rows=$(python3 -c "import pyarrow.parquet as pq; print(pq.read_table('$OUT/$q').num_rows)" \
    2>/dev/null || echo -1)
  echo "$q exit=$rc wall=$((t1 - t0))s rows=$rows cpus=$SPARK_GRAFT_CPUS mem=$SPARK_DRIVER_MEM disk_after=$(free_gb)G" \
    | tee -a "$OUT/campaign.log"
done
echo "campaign done: $(grep -c 'exit=0' "$OUT/campaign.log")/${#QUERIES[@]} ok"
