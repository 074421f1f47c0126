#!/bin/bash
# Round-11 evidence captures, serialized, designed to run on an IDLE
# host (every artifact now carries degraded/load_avg_start — abort and
# re-run any capture that self-flags):
#  1. ANN routed-scan series at 200k/2M/5M/20M clustered vectors on the
#     r11 binary — the registered adaptive shortlist rides through the
#     operator path (Sim.adcShortlist), closing VERDICT r10 #1/#5 and
#     the ADVICE VEC5M_SL gap; plus a fixed-50 control at 5M.
#  2. st_sessions 100x adjudication: isolated min-of-3, in-memory vs
#     RocksDB (VERDICT r10 #2).
#  3. t_bpe family at 10x-fresh vs 100x-fresh — matched-regime exponent
#     for the 1.25 adjudication (VERDICT r10 #3).
#  4. StateProbe RDB artifacts with the in-artifact denominator
#     (VERDICT r10 #7).
# Usage: scripts/probes_r11.sh [outDir]
set -euo pipefail
OUT="${1:-/root/repo}"
cd /root/repo

# Back-to-back serial captures trip their own degraded flag: each JVM
# samples the 1-min load average at entry, and the PREVIOUS capture's
# executors are still in that window. Wait out the decay between
# captures so every artifact starts below the Capture.LoadLimit.
wait_idle() {
  local limit="${SPARK_GRAFT_LOAD_LIMIT:-8}"
  while :; do
    local l
    l=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$l" -v lim="$limit" 'BEGIN{exit !(l < lim)}' && break
    echo "    (load $l >= $limit, cooling down)"
    sleep 20
  done
}

# Skip a capture whose artifact already exists and self-reports a
# clean (non-degraded) start — partial re-runs only redo flagged work.
have_clean() {
  [ -f "$OUT/$1" ] && head -c 120 "$OUT/$1" | grep -q '"degraded":false'
}

ann() { # corpus mem outfile extra-env...
  local corpus="$1" mem="$2" outfile="$3"; shift 3
  if have_clean "$outfile"; then echo "=== $outfile clean, skipping ==="; return; fi
  wait_idle
  echo "=== ann $corpus -> $outfile ==="
  env "$@" SPARK_DRIVER_MEM="$mem" scripts/run_main.sh \
    graft.sim.AnnProbe "$corpus" "$OUT/$outfile" \
    > "/tmp/ann_$(basename "$outfile" .json).log" 2>&1
  echo "--- $outfile: $(head -c 200 "$OUT/$outfile")"
}

bench() { # name sfdir subset mem runs extra-env...
  local name="$1" sfdir="$2" subset="$3" mem="$4" runs="$5"; shift 5
  wait_idle
  echo "=== bench $name ($sfdir runs=$runs $*) ==="
  env "$@" SPARK_GRAFT_SF_DIR="$sfdir" ${subset:+SPARK_GRAFT_ONLY="$subset"} \
    SPARK_DRIVER_MEM="$mem" SPARK_GRAFT_RUNS="$runs" \
    SPARK_GRAFT_BENCH_OUT="$OUT/$name.json" \
    scripts/run_main.sh graft.Bench > "/tmp/bench_$name.log" 2>&1
  echo "--- $name done"
}

# 1. ANN series (probe through the registered shortlist rule).
# The 20M point — the longest single capture — runs LAST so the
# quick adjudication benches aren't serialized behind it.
ann /tmp/vec200k 24g ANNPROBE_VEC200K_r11.json
ann /tmp/vec2m   48g ANNPROBE_VEC2M_r11.json
ann /tmp/vec5m   48g ANNPROBE_VEC5M_r11.json
ann /tmp/vec5m   48g ANNPROBE_VEC5M_SL50_r11.json SPARK_GRAFT_ANN_SHORTLIST=50

# 2. st_sessions 100x adjudication
bench BENCH_SF10_SESSIONS_MEM_ISO_r11 /tmp/sf10 st_sessions 48g 3
bench BENCH_SF10_SESSIONS_RDB_ISO_r11 /tmp/sf10 st_sessions 48g 3 SPARK_GRAFT_ROCKSDB=1

# 3. t_bpe matched-regime exponents (fresh 10x vs fresh 100x)
bench BENCH_SF1F_BPE_r11  /tmp/sf1_fresh t_bpe_tokens,t_bpe_merges,t_bpe_encode 24g 3
bench BENCH_SF10_BPE_r11  /tmp/sf10      t_bpe_tokens,t_bpe_merges,t_bpe_encode 48g 3

# 4. StateProbe RDB with in-artifact denominator
wait_idle
echo "=== stateprobe sf1 rdb ==="
SPARK_GRAFT_ROCKSDB=1 SPARK_DRIVER_MEM=24g scripts/run_main.sh \
  graft.tools.StateProbe /tmp/sf1 "$OUT/STATEPROBE_SF1_RDB_r11.json" \
  > /tmp/stateprobe_sf1_rdb.log 2>&1
wait_idle
echo "=== stateprobe ev300 rdb ==="
SPARK_GRAFT_ROCKSDB=1 SPARK_DRIVER_MEM=48g scripts/run_main.sh \
  graft.tools.StateProbe /tmp/ev300 "$OUT/STATEPROBE_EV300_RDB_r11.json" \
  > /tmp/stateprobe_ev300_rdb.log 2>&1

# 5. The decade-up ANN point (VERDICT r10 #5) — longest capture, last.
ann /tmp/vec20m  48g ANNPROBE_VEC20M_r11.json
echo ALL_PROBES_DONE
