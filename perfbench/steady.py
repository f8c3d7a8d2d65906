#!/usr/bin/env python3
"""Steadiness check: run a workload as two interleaved sets of runs.

    python3 perfbench/steady.py --workload curate --runs 5 [--first-seed 100]

Runs 2 x --runs untraced runs of the workload (set A, set B, A, B, ...),
each with its own seed, through run.py. For each set and each end-to-end
metric of BENCHMARK.json it prints the median, the quartiles and the
spread (quartile distance over the median), the spread over both sets,
and whether the two sets agree: every spread but setup_s within the metric's bound, set B's
median no worse than set A's by more than the bound, and the same
share of failed operations. Exits 1 if they do not agree.
Run from the root of a graft checkout; --workload all runs every one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: run.py exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def check_workload(spec, workload, runs, first_seed):
    sets = [[], []]
    for i in range(2 * runs):
        r = one_run(workload, first_seed + i, spec["run_seconds"])
        sets[i % 2].append(r)
        print(f"  {workload} set {'AB'[i % 2]} seed {first_seed + i}: correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", flush=True)
    ok = all(r["correct"] for s in sets for r in s)
    shares = [{r["failed"] / r["attempted"] for r in s} for s in sets]
    if len(shares[0] | shares[1]) != 1:
        ok = False
        print(f"  failed shares differ: {shares}")
    print(f"  {'metric':14} {'A median':>12} {'A spread':>9} {'B median':>12} {'B spread':>9} "
          f"{'all spread':>10} {'bound':>6}  verdict")
    for m in spec["end_to_end"]:
        a, b = (summary([r["metrics"][m["name"]]["value"] for r in s]) for s in sets)
        both = summary([r["metrics"][m["name"]]["value"] for s in sets for r in s])
        worse = (b["median"] - a["median"]) / a["median"]
        if m["better"] == "higher":
            worse = -worse
        good = worse <= m["bound"] and (m["name"] == "setup_s" or
                                        max(a["spread"], b["spread"]) <= m["bound"])
        ok = ok and good
        print(f"  {m['name']:14} {a['median']:12.4f} {a['spread']:9.3f} {b['median']:12.4f} "
              f"{b['spread']:9.3f} {both['spread']:10.3f} {m['bound']:6.2f}  {'ok' if good else 'OUT'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = [w["name"] for w in spec["workloads"]]
    todo = names if args.workload == "all" else [args.workload]
    ok = True
    for w in todo:
        if w not in names:
            sys.exit(f"unknown workload {w}; one of {names}")
        print(f"{w}: {2 * args.runs} runs, {spec['run_seconds']} s each", flush=True)
        ok = check_workload(spec, w, args.runs, args.first_seed) and ok
    print("sets agree within the bounds" if ok else "sets do NOT agree within the bounds")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
