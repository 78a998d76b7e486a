#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly with different seeds and
prints, for every end-to-end metric, the per-run values, the median and the
spread (interquartile range as a share of the median). Exits non-zero if a
run fails its output checks, if a spread exceeds the metric's bound in
BENCHMARK.json, or, with --sets 2, if the second set's median is worse than
the first's by more than the bound.

Usage (from the repository root):
  python3 layerbench/steady.py [--workloads image_io,lake_commits]
      [--runs 10] [--first-seed 101] [--sets 1] [--target 1.0] [--log DIR]

--target scales the bounds: --target 0.333 checks spreads against a third
of each bound, the margin the benchmark aims for. --log keeps each run's
stderr (set-up breakdown, failures) as DIR/<workload>-<seed>.log.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds, log_dir):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if log_dir:
        with open(os.path.join(log_dir, f"{workload}-{seed}.log"), "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=900)
    else:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None, f"exit code {r.returncode}"
    res = json.loads(lines[-1])
    if not res["correct"]:
        return None, f"{res['failed']} of {res['attempted']} ops failed"
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse(first, second, better):
    """Relative change of the second median against the first, positive
    when it is worse."""
    d = (second - first) / first
    return -d if better == "higher" else d


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--target", type=float, default=1.0)
    ap.add_argument("--log", help="directory for each run's stderr")
    args = ap.parse_args()
    if args.log:
        os.makedirs(args.log, exist_ok=True)

    ok = True
    for w in args.workloads.split(","):
        medians = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.first_seed + s * args.runs + i
                m, err = run_once(w, seed, args.seconds, args.log)
                if err:
                    print(f"{w} seed={seed}: FAILED ({err})")
                    ok = False
                    continue
                runs.append(m)
                print(f"{w} seed={seed}: " + " ".join(f"{k}={v:.4g}" for k, v in m.items()),
                      flush=True)
            if len(runs) < 4:
                print(f"{w}: too few successful runs")
                ok = False
                break
            med = {}
            for e in bench["end_to_end"]:
                name, bound = e["name"], e["bound"] * args.target
                vals = [r[name] for r in runs]
                med[name] = statistics.median(vals)
                sp = spread(vals)
                flag = "" if sp <= bound else "  OUTSIDE BOUND"
                ok &= not flag
                print(f"  {w} set {s + 1} {name:14s} median={med[name]:.4g} "
                      f"spread={sp:.2%} bound={bound:.2%}{flag}  values="
                      + ",".join(f"{v:.4g}" for v in vals))
            medians.append(med)
        if len(medians) == 2:
            for e in bench["end_to_end"]:
                name, bound = e["name"], e["bound"] * args.target
                d = worse(medians[0][name], medians[1][name], e["better"])
                flag = "" if d <= bound else "  WORSE BEYOND BOUND"
                ok &= not flag
                print(f"  {w} {name:14s} second set vs first: {d:+.2%} (bound {bound:.2%}){flag}")
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
