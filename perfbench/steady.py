#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on every workload over a range of
seeds, untraced, plus one traced run per workload, and prints a markdown
report: per metric the median, quartiles and quartile spread as a share of
the median (statistics.quantiles, n=4) against the metric's bound, the
tracing overhead and how much of the traced wall time the spans cover,
then each traced run's per-layer metrics and span table.

Usage (from the repository root):
    python3 perfbench/steady.py [--seeds 1-10] [--trace-seed 101]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    took = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit("run failed (%s seed %d):\n%s" %
                         (workload, seed, p.stderr[-3000:]))
    return json.loads(lines[-2]), json.loads(lines[-1]), took


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seed", type=int, default=101)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = [w["name"] for w in bench["workloads"]]
    traced_runs = []
    print("| workload | metric | unit | q1 | median | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for w in names:
        runs = [one(w, s, bench["run_seconds"], 0) for s in seeds(a.seeds)]
        for m in bench["end_to_end"]:
            vals = [r[1]["metrics"][m["name"]]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2 if q2 else 0.0
            print("| %s | %s | %s | %.4g | %.4g | %.4g | %.3f | %s |" %
                  (w, m["name"], m["unit"], q1, q2, q3, spread,
                   bounds[m["name"]]))
        errs = sum(r[1]["failed"] for r in runs)
        att = sum(r[1]["attempted"] for r in runs)
        took = [r[2] for r in runs]
        print("| %s | errors | - | | %d of %d | | | |" % (w, errs, att))
        print("| %s | run wall | s | %.1f | %.1f | %.1f | | |" % (
            w, min(took), statistics.median(took), max(took)))
        s, tr, took = one(w, a.trace_seed, bench["run_seconds"], 1)
        base = statistics.median(
            r[1]["metrics"]["op_p50_s"]["value"] for r in runs)
        traced = tr["metrics"]["trace.op_p50_s"]["value"]
        gap = tr["metrics"]["trace.span_gap_s"]["value"]
        covered = sum(v["wall_s"] for v in s["spans"].values())
        print("| %s | traced op / untraced op_p50 | ratio | | %.3f | | | |" %
              (w, traced / base))
        print("| %s | tracer's own time of traced wall | share | | %.3f "
              "| | | |" % (w, tr["metrics"]["trace.overhead_s"]["value"] /
                             s["measured_wall_s"]))
        print("| %s | span gap of traced wall | share | | %.3f | | | |" %
              (w, gap / (gap + covered)))
        traced_runs.append((w, tr["metrics"], s["spans"]))
    cols = ["calls", "wall_s", "cpu_s", "driver_only_s", "jobs", "tasks",
            "shuffle_bytes", "jit_s", "codegen_classes", "files_out"]
    for w, metrics, spans in traced_runs:
        print("\n**%s** traced run (seed %d): per-layer metrics\n" %
              (w, a.trace_seed))
        print("| metric | value | unit |\n|---|---|---|")
        for k, v in metrics.items():
            print("| `%s` | %.4g | %s |" % (k, v["value"], v["unit"]))
        print("\n| span | " + " | ".join(cols) + " |")
        print("|---" * (len(cols) + 1) + "|")
        for k, v in spans.items():
            print("| `%s` | " % k + " | ".join(
                "" if c not in v else "%.2f" % v[c] if isinstance(v[c], float)
                else "%d" % v[c] for c in cols) + " |")


if __name__ == "__main__":
    main()
