"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM driver from source when they changed
(perfbench/build.py), generates the workload's tables from the seed
(perfbench/gen.py), folds the DuckDB oracle's answer for every op
(perfbench/oracle.py), then runs the JVM driver: one Spark session at
local[min(4, cpus)], one warm-up pass, then timed passes over the
workload's op list, every op's output folded and compared with the
oracle's.

Standard output: a report line (pass count and quartiles, fail ratio,
failures, run-window evidence, file placement), then, as the last
line, {"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). Everything is
built and written under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 160


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(cmd, log_path):
    """Run the driver JVM in its own process group; on timeout or when
    this process is told to stop, kill the group and wait for it."""
    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # input size relative to the benchmark's (gen.py); for measuring
    # fixed cost only, the benchmark runs at 1
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    with open(os.path.join(build.OUT, "ops.json")) as f:
        ops = json.load(f)[a.workload]

    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.generate(a.workload, a.seed, data, a.scale)
        expect = os.path.join(run_dir, "expect.tsv")
        with open(expect, "w") as f:
            f.write("\n".join(oracle.expectations(data, ops)) + "\n")
        out = os.path.join(run_dir, "result.json")
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
        # A fixed heap size: the full GCs of the live-heap sample after
        # warm-up would otherwise shrink the heap, and how far it grows
        # back made the timed passes of one run up to 15% slower than another's
        cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={work}/tmp"]
               + [x for m in JVM_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--data", data,
                  "--work", work, "--expect", expect, "--out", out,
                  "--seconds", str(a.seconds), "--cores", str(cores()),
                  "--trace", str(a.trace), "--spans", spans])
        log_path = os.path.join(build.OUT, f"last-{a.workload}.log")
        rc = run_jvm(cmd, log_path)
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"driver exited with {rc}")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    w = rec["window"]
    bw_lo, bw_hi = sorted([w["bw_before_mbs"], w["bw_after_mbs"]])
    # a host stall shows as copy probes before and after the run that
    # disagree by more than 2x, or as the hypervisor stealing more than a
    # tenth of the run's CPU time; such runs are flagged, never dropped
    w["window_compromised"] = bool(bw_lo < 0.5 * bw_hi
                                   or w["steal_s"] > 0.1 * w["wall_s"] * w["cores"])
    attempted, failed = rec["attempted"], rec["failed"]
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "ops": len(ops),
        "pass_count": len(rec["passes"]),
        "pass_s": {"median": rec["pass_s"], "q1": rec["pass_q1_s"], "q3": rec["pass_q3_s"]},
        "fail_ratio": {"value": failed / attempted if attempted else 1.0, "unit": "ratio"},
        "op_s": rec["op_s"], "failures": rec["failures"], "self_check": rec["self_check"],
        "setup": rec["setup"], "window": w,
        "placement": rec["placement"],
    }
    # the metric names and units are BENCHMARK.json's; a per-layer metric
    # of a layer the workload does not exercise reads 0
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        report["traced_passes"] = rec["traced_passes"]
        report["spans"] = os.path.relpath(spans, build.ROOT)
        metrics = {m["name"]: {"value": rec["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": rec[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(report))
    correct = failed == 0 and rec["self_check_ok"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
