#!/bin/bash
# Alternating-pair comparison of two checkouts, on one perfbench
# workload or on graft.Bench catalog rows.
#
#   tools/perf_pairs.sh <parent-checkout> <change-checkout> <workload> <pairs> [first-seed]
#   tools/perf_pairs.sh --bench <parent-checkout> <change-checkout> <rows> <sf-dir> <pairs>
#
# Pair k (k = 1..pairs) runs each checkout once: the parent first on
# odd pairs, the change first on even pairs, so a slow host window
# lands on both sides alike.
#
# The perfbench mode runs `perfbench/run.py --workload <workload>
# --seed <first-seed + k - 1> --seconds 3 --trace 0` (first-seed
# defaults to 101) and compares pass_s, setup_s and live_heap_peak_mb;
# it also prints every op's median seconds, and each run's
# window_compromised flag.
#
# --bench runs `graft.Bench` with SPARK_GRAFT_ONLY=<rows> (comma-
# separated catalog row names) and SPARK_GRAFT_SF_DIR=<sf-dir>, and
# compares each row's seconds (Bench's min of reps). SPARK_GRAFT_REPS
# passes through (default 1: Bench's adaptive reps would give the two
# sides different rep counts). Bench's stdout line carries its
# headline rows, or the first 16 selected rows when none of them is a
# headline row; each run's window_class is printed.
#
# Prints, per side and metric, every run's value, the median and the
# quartiles; then how many pairs the change won per metric (lower is
# better for all). It reads only the runner's stdout, kept under a
# fresh directory in ${TMPDIR:-/tmp}.
set -eu
MODE=perfbench
if [ "${1:-}" = --bench ]; then MODE=bench; shift; fi
if [ $# -lt 4 ] || { [ $MODE = bench ] && [ $# -lt 5 ]; }; then
  sed -n '5,6p' "$0" | sed 's/^# *//' >&2
  exit 2
fi
PARENT=$(cd "$1" && pwd)
CHANGE=$(cd "$2" && pwd)
if [ $MODE = bench ]; then
  ROWS=$3
  SF_DIR=$(cd "$4" && pwd)
  PAIRS=$5
  SEED0=0
  REPS=${SPARK_GRAFT_REPS:-1}
  WHAT="$ROWS on $SF_DIR, $REPS reps a run"
else
  WORKLOAD=$3
  PAIRS=$4
  SEED0=${5:-101}
  WHAT="$WORKLOAD from seed $SEED0"
fi
OUT=$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")
echo "perf_pairs: $WHAT, $PAIRS pairs; runs in $OUT" >&2

run() { # side checkout pair
  echo "pair $3: $1 $(date +%H:%M:%S)" >&2
  if [ $MODE = bench ]; then
    (cd "$2" && SPARK_GRAFT_ONLY="$ROWS" SPARK_GRAFT_SF_DIR="$SF_DIR" \
      SPARK_GRAFT_REPS="$REPS" sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench") \
      > "$OUT/$1.$3.out" 2> "$OUT/$1.$3.err"
  else
    (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" \
      --seed $((SEED0 + $3 - 1)) --seconds 3 --trace 0) > "$OUT/$1.$3.out"
  fi || echo "pair $3: $1 run failed" >&2
}

for k in $(seq 1 "$PAIRS"); do
  if [ $((k % 2)) -eq 1 ]; then
    run parent "$PARENT" "$k"; run change "$CHANGE" "$k"
  else
    run change "$CHANGE" "$k"; run parent "$PARENT" "$k"
  fi
done

python3 - "$OUT" "$MODE" "$PAIRS" "$SEED0" <<'EOF'
import json, os, statistics, sys

out, mode, pairs, seed0 = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
PERF_METRICS = ["pass_s", "setup_s", "live_heap_peak_mb"]


def load(side, k):
    """{"vals": metric -> value, "ops": op -> s, "bad": [..], "window": str}"""
    try:
        with open(os.path.join(out, f"{side}.{k}.out")) as f:
            text = f.read()
        if mode == "bench":
            line = json.loads([l[l.index("{"):] for l in text.splitlines()
                               if '{"metric"' in l][-1])
            return {"vals": {q: v for q, v in line["queries"].items() if v >= 0},
                    "ops": {}, "bad": sorted(line["failed"]),
                    "window": line["window_class"]}
        lines = [l for l in text.splitlines() if l.strip()]
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (OSError, IndexError, ValueError):
        return None
    return {"vals": {m: result["metrics"][m]["value"] for m in PERF_METRICS},
            "ops": report["op_s"], "bad": [] if result["correct"] else ["incorrect"],
            "window": f"compromised={report['window']['window_compromised']}"}


def quart(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


runs = {s: [load(s, k) for k in range(1, pairs + 1)] for s in ("parent", "change")}
metrics = PERF_METRICS if mode != "bench" else \
    sorted({q for rs in runs.values() for r in rs if r for q in r["vals"]})
fmt = lambda v: f"{v:.3f}" if v is not None else "-"
for side, rs in runs.items():
    ok = [r for r in rs if r]
    print(f"{side}: {len(ok)}/{pairs} runs read, failed "
          f"{sorted({b for r in ok for b in r['bad']})}")
    for m in metrics:
        q1, q2, q3 = quart([r["vals"][m] for r in ok if m in r["vals"]])
        each = " ".join(fmt(r["vals"].get(m)) if r else "failed" for r in rs)
        print(f"  {m:20s} median {q2:9.3f}  q1 {q1:9.3f}  q3 {q3:9.3f}  runs {each}")
    for op in sorted({o for r in ok for o in r["ops"]}):
        print(f"  op {op:20s} median {statistics.median([r['ops'].get(op, 0.0) for r in ok]):.3f} s")
both = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
print(f"change wins over {len(both)} complete pairs (lower is better):")
for m in metrics:
    pc = [(p["vals"][m], c["vals"][m]) for p, c in both if m in p["vals"] and m in c["vals"]]
    print(f"  {m:20s} {sum(c < p for p, c in pc)}/{len(pc)}")
print("windows (pair, seed, parent / change):")
for k, (p, c) in enumerate(zip(runs["parent"], runs["change"]), 1):
    w = lambda r: r["window"] if r else "-"
    seed = seed0 + k - 1 if mode != "bench" else "-"
    print(f"  {k:3d} {seed:>6} {w(p)} / {w(c)}")
EOF
