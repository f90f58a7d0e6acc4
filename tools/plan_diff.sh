#!/usr/bin/env bash
# Compare two graft.Plans dump directories, e.g. one dumped from a base
# checkout and one from a change:
#
#   tools/plan_diff.sh DIR_A DIR_B
#
# Files pair up by name with the trailing `_<tag>.txt` dropped, so dumps
# taken with different SPARK_GRAFT_PLAN_TAG values still match (a tag
# must not contain `_`). Before diffing, numbers that shift with
# whatever ran earlier in the JVM or with edits elsewhere in a source
# file, and say nothing about the plan, are masked: expression ids
# (`#<n>`), exchange counters (`plan_id=<n>`), RDD ids of scanned
# checkpoints (`RDD[<n>]`), the source lines of their call sites
# (`<File>.scala:<n>`), lambda object names (`$Lambda$<n>/0x…@…`),
# Catalyst's lambda variable counter (`lambda x_<n>`, which counts the
# lambdas made earlier in the JVM, so a row that threw mid-dump would
# make every later row look changed), and three fields of a streaming
# query's micro-batch plans that a second dump of the same tree
# changes: UUIDs (its run id, state checkpoint directory and watermark
# ids), object identities (`<Class>@<hex>`, its sink writer) and a
# stateful operator's batch timestamp (`Timeout, <epoch ms>`).
# A dump holds each row's final plan, its actions' plans
# (`<row>.actions_<tag>.txt`) and its oracle SQL (`<row>.oracle_<tag>.txt`),
# so one pass shows engine-plan and oracle-text changes together.
# Prints a unified diff per differing query and the names of queries
# dumped on one side only.
#
# Exit status: 0 when every query's masked plan is identical on both
# sides, 1 on any difference or one-sided query, 2 on a usage error.
set -euo pipefail

if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 DIR_A DIR_B" >&2
  exit 2
fi

work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT

mask() {  # mask SRC_DIR DEST_DIR
  mkdir -p "$2"
  local f name
  for f in "$1"/*.txt; do
    [ -e "$f" ] || continue
    name=$(basename "$f" .txt)
    sed -E -e 's/#[0-9]+/#N/g' -e 's/plan_id=[0-9]+/plan_id=N/g' \
      -e 's/RDD\[[0-9]+\]/RDD[N]/g' -e 's/\.scala:[0-9]+/.scala:N/g' \
      -e 's/Lambda[$0-9]*\/0x[0-9a-f]+@[0-9a-f]+/Lambda/g' \
      -e 's/(lambda [a-z]+)_[0-9]+/\1_N/g' \
      -e 's/[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/UUID/g' \
      -e 's/([A-Za-z])@[0-9a-f]+/\1@N/g' \
      -e 's/(Timeout, )[0-9]+/\1N/g' \
      "$f" > "$2/${name%_*}.txt"
  done
}

mask "$1" "$work/a"
mask "$2" "$work/b"

if diff -ru "$work/a" "$work/b"; then
  echo "plan_diff: $(ls "$work/a" | wc -l) plans identical" >&2
else
  echo "plan_diff: plans differ" >&2
  exit 1
fi
