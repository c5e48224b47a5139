#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly, one seed per run, and
prints every metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py --runs 10 [--workloads clf_batch,stream_replay]
                                [--seed-base 1] [--trace 0] [--out results.json]

Spread is (Q3 - Q1) / median with Python's statistics.quantiles(values, n=4).
A metric is steady when its spread is below a third of its bound. setup_s
is exempt from the spread rule, but its spread is still printed against its
bound; every metric, setup_s too, is also judged by its median drift
between two sets of runs (compare two --out files with --against).
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


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    return result, time.time() - t0


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    ap.add_argument("--against", help="a previous --out file: also report median drift against it")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    previous = json.load(open(args.against)) if args.against else {}
    collected = {}
    for w in workloads:
        runs, walls = [], []
        for i in range(args.runs):
            result, wall = run_once(w, args.seed_base + i, spec["run_seconds"], args.trace)
            runs.append(result)
            walls.append(wall)
            print(f"{w} seed {args.seed_base + i}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']} wall={wall:.1f}s", flush=True)
        collected[w] = runs
        print(f"\n{w}: {args.runs} runs, wall per run median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        print(f"  {'metric':30s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} {'spread':>8s} {'bound':>6s}  verdict")
        for m in metrics:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, spread = summarize(values)
            bound = m.get("bound")
            verdict = ""
            if bound is not None:
                verdict = "steady" if spread < bound / 3 else "within bound" if spread <= bound else "UNSTEADY"
                if m["name"] == "setup_s":
                    verdict += " (exempt from the spread rule)"
                if w in previous:
                    old = statistics.median(r["metrics"][m["name"]]["value"] for r in previous[w])
                    worse = (med - old) / old if m["better"] == "lower" else (old - med) / old
                    verdict += f", drift {worse:+.3f} ({'ok' if worse <= bound else 'REGRESSED'})"
            print(f"  {m['name']:30s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
                  f"{'' if bound is None else bound:>6}  {verdict}")
        print(flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(collected, f)


if __name__ == "__main__":
    main()
