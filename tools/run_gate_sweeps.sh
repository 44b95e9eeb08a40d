#!/bin/bash
# One wave of full-registry gate sweeps: runs the three scale factors
# CONCURRENTLY — safe since round-12's per-(pid,boot-token) scratch
# isolation; timings in the logs are informational only.
# Usage: tools/run_gate_sweeps.sh <testdata_dir> [out_dir]
set -u
DATA=$1
cd "$(dirname "$0")/.."
OUT=${2:-docs/gate}
mkdir -p "$OUT"
pids=()
for SF in sf0.01 sf0.1 sf0.001; do
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)} \
    python tools/check_correctness.py "$DATA/$SF" \
    > "$OUT/${SF}.log" 2>"$OUT/${SF}.err" &
  pids+=($!)
done
rc=0
for p in "${pids[@]}"; do wait "$p" || rc=1; done
echo "wave done rc=$rc" >> "$OUT/waves.log"
