#!/usr/bin/env python3
"""Repeatability test: two traced runs with the same seed must report
identical counts — the spark.*_per_op counts (the listener bus is drained
before they are read), files per commit and bytes per user byte. Times are
not compared.

Usage (from the repository root):
  python3 layerbench/test_repeat.py [--workloads a,b] [--seed 7] [--seconds 10]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = [
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.input_bytes_per_op", "spark.shuffle_bytes_per_op",
    "spark.spill_bytes_per_op", "streaming.triggers_per_op",
    "sources.files_per_commit", "sources.write_bytes_per_user_byte",
    "writers.files_per_op", "writers.bytes_per_op", "bytes_per_user_byte",
]


def traced(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"{workload}: traced run failed with exit code {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return {k: res["metrics"][k]["value"] for k in COUNTS}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="image_io,corpus_queries,lake_commits")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    bad = 0
    for w in args.workloads.split(","):
        a = traced(w, args.seed, args.seconds)
        b = traced(w, args.seed, args.seconds)
        for k in COUNTS:
            same = a[k] == b[k]
            bad += not same
            print(f"{w:15s} {k:36s} {a[k]:<14.8g} {b[k]:<14.8g} {'ok' if same else 'DIFFERS'}")
    print("PASS" if not bad else f"FAIL: {bad} counts differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
