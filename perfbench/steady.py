#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, per
metric, the median and the interquartile range as a share of the median
(the spread that BENCHMARK.json's bounds are set against).

    python3 perfbench/steady.py --workload ql_read --seeds 1-5 [--trace 1]

With --trace 1 it also runs the same seeds untraced and prints the
tracing overhead: traced minus untraced median of each end-to-end metric
the traced runs report in their detailed report line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def one(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = next(json.loads(l)["perfbench_report"] for l in lines
                  if l.startswith('{"perfbench_report"'))
    report["wall_s"] = time.time() - t0
    return result, report


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    runs = {}
    for s in seeds(a.seeds):
        result, report = one(a.workload, s, seconds, a.trace)
        runs[s] = (result, report)
        print(f"seed {s}: wall={report['wall_s']:.0f}s "
              f"correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}"
                       for k, v in result["metrics"].items()), flush=True)
    names = next(iter(runs.values()))[0]["metrics"].keys()
    for n in names:
        med, sp = spread([r[0]["metrics"][n]["value"] for r in runs.values()])
        print(f"{n}: median {med:.6g}  iqr/median {sp:.4f}")
    if a.trace:
        base = {s: one(a.workload, s, seconds, 0)[1] for s in runs}
        for n in ("op_p50_ms", "op2_p50_ms"):
            traced = statistics.median(
                r[1]["metrics"][n]["value"] for r in runs.values())
            plain = statistics.median(
                b["metrics"][n]["value"] for b in base.values())
            print(f"tracing overhead {n}: {traced - plain:+.4g} ms "
                  f"({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
