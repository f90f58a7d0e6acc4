#!/bin/bash
# Controlled A/B for the round-6 bench regression (VERDICT r6 task #1):
# the three regressed queries under the 2x2 of
#   {spark.local.dir = tmpfs vs block device} x {shuffle partitions = 32 vs 128}
# at sf0.1, SPARK_GRAFT_REPS=3 per cell, with the memory-bandwidth
# probe logged before every cell so a host bandwidth wave (PERF_NOTES
# §5) cannot masquerade as a config effect. Cells run in ABBA order
# (forward pass then reverse pass) for the same reason.
#
# Output: one line per cell in $OUT (JSON from Bench + probe lines),
# plus per-cell BENCH_probe.json copies under /tmp/ab_cells/.
set -u
cd "$(dirname "$0")/.."  # the checkout this script belongs to
OUT=${1:-/tmp/ab_bench.log}
QUERIES=q_cc_events,q_ewise_add,p_dedup_minhash
mkdir -p /tmp/ab_cells /tmp/graft-ab-disk
CELLS="tmpfs_128 tmpfs_32 disk_128 disk_32"
REV="disk_32 disk_128 tmpfs_32 tmpfs_128"

run_cell() {
  local cell=$1 pass=$2
  local dir shuffle
  case $cell in
    tmpfs_*) dir=/dev/shm/graft-spark-$(id -un)/ab ;;
    disk_*)  dir=/tmp/graft-ab-disk ;;
  esac
  case $cell in
    *_32)  shuffle=32 ;;
    *_128) shuffle=128 ;;
  esac
  mkdir -p "$dir"
  echo "=== cell=$cell pass=$pass $(date +%H:%M:%S)" >> "$OUT"
  python3 tools/mem_probe.py 8 >> "$OUT"
  echo "shm_occupancy_mb_before: $(du -sm /dev/shm/graft-spark-$(id -un) 2>/dev/null | cut -f1)" >> "$OUT"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_ONLY=$QUERIES \
  SPARK_GRAFT_REPS=3 \
  SPARK_GRAFT_EXTRA_CONF="spark.sql.shuffle.partitions=$shuffle" \
  SPARK_GRAFT_LOCAL_DIR=$dir \
    sbt -batch "runMain graft.Bench" > /tmp/ab_cells/$cell.$pass.out 2>&1
  grep -h '"metric"' /tmp/ab_cells/$cell.$pass.out | tail -1 >> "$OUT"
  cp BENCH_probe.json /tmp/ab_cells/$cell.$pass.json
  python3 tools/mem_probe.py 8 >> "$OUT"
  # leave tmpfs clean between cells so occupancy can't compound
  rm -rf /dev/shm/graft-spark-$(id -un)/ab /tmp/graft-ab-disk/*
}

: > "$OUT"
for c in $CELLS; do run_cell "$c" fwd; done
for c in $REV;   do run_cell "$c" rev; done
echo "=== done $(date +%H:%M:%S)" >> "$OUT"
