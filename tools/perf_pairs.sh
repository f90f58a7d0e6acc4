#!/bin/bash
# Alternating-pair comparison of two checkouts on one benchmark workload.
#
#   tools/perf_pairs.sh <parent-checkout> <change-checkout> <workload> <pairs> [first-seed]
#
# Pair k (k = 1..pairs) runs `perfbench/run.py --workload <workload>
# --seed <first-seed + k - 1> --seconds 3 --trace 0` once in each
# checkout: the parent first on odd pairs, the change first on even
# pairs, so a slow host window lands on both sides alike. Each pair
# gets a fresh seed (first-seed defaults to 101).
#
# Prints, per side, the median and quartiles of pass_s, setup_s and
# live_heap_peak_mb and the median seconds of every op; then how many
# pairs the change won per metric (lower is better for all three) and
# every run's window_compromised flag. It reads only perfbench's
# stdout, kept under a fresh directory in ${TMPDIR:-/tmp}.
set -eu
if [ $# -lt 4 ]; then
  sed -n '3,3p' "$0" | sed 's/^# *//' >&2
  exit 2
fi
PARENT=$(cd "$1" && pwd)
CHANGE=$(cd "$2" && pwd)
WORKLOAD=$3
PAIRS=$4
SEED0=${5:-101}
OUT=$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")
echo "perf_pairs: $WORKLOAD, $PAIRS pairs from seed $SEED0; runs in $OUT" >&2

run() { # side checkout pair seed
  echo "pair $3 seed $4: $1 $(date +%H:%M:%S)" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$4" \
    --seconds 3 --trace 0) > "$OUT/$1.$3.out" || echo "pair $3: $1 run failed" >&2
}

for k in $(seq 1 "$PAIRS"); do
  seed=$((SEED0 + k - 1))
  if [ $((k % 2)) -eq 1 ]; then
    run parent "$PARENT" "$k" "$seed"; run change "$CHANGE" "$k" "$seed"
  else
    run change "$CHANGE" "$k" "$seed"; run parent "$PARENT" "$k" "$seed"
  fi
done

python3 - "$OUT" "$PAIRS" "$SEED0" <<'EOF'
import json, os, statistics, sys

out, pairs, seed0 = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
METRICS = ["pass_s", "setup_s", "live_heap_peak_mb"]


def load(side, k):
    try:
        with open(os.path.join(out, f"{side}.{k}.out")) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (OSError, IndexError, ValueError):
        return None
    vals = {m: result["metrics"][m]["value"] for m in METRICS}
    return {"vals": vals, "ops": report["op_s"], "correct": result["correct"],
            "compromised": report["window"]["window_compromised"]}


def quart(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


runs = {s: [load(s, k) for k in range(1, pairs + 1)] for s in ("parent", "change")}
for side, rs in runs.items():
    ok = [r for r in rs if r]
    print(f"{side}: {len(ok)}/{pairs} runs read, {sum(not r['correct'] for r in ok)} incorrect")
    for m in METRICS:
        q1, q2, q3 = quart([r["vals"][m] for r in ok])
        print(f"  {m:18s} median {q2:9.3f}  q1 {q1:9.3f}  q3 {q3:9.3f}")
    for op in sorted({o for r in ok for o in r["ops"]}):
        print(f"  op {op:20s} median {statistics.median([r['ops'].get(op, 0.0) for r in ok]):.3f} s")
both = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
print(f"change wins over {len(both)} complete pairs (lower is better):")
for m in METRICS:
    wins = sum(c["vals"][m] < p["vals"][m] for p, c in both)
    print(f"  {m:18s} {wins}/{len(both)}")
print("runs (pair, seed, parent pass_s, change pass_s, window_compromised parent/change):")
for k, (p, c) in enumerate(zip(runs["parent"], runs["change"]), 1):
    fmt = lambda r: f"{r['vals']['pass_s']:.3f}" if r else "failed"
    flag = lambda r: str(r["compromised"]) if r else "-"
    print(f"  {k:3d} {seed0 + k - 1:6d}  {fmt(p):>8s}  {fmt(c):>8s}  {flag(p)}/{flag(c)}")
EOF
