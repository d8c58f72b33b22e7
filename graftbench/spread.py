#!/usr/bin/env python3
"""Run one workload over several seeds and print, for each metric, the
median and the interquartile range as a share of the median: the
spread a metric's bound must cover.

    python3 graftbench/spread.py registry_sf0.01 1-10 [--trace 1]

Run from the repo root. Each run is `run.py` with `--seconds` from
BENCHMARK.json; its result lines are echoed as they arrive.
"""
import argparse
import json
import os
import subprocess
import sys

import lib


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=sorted(lib.WORKLOADS))
    ap.add_argument("seeds", help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    first, last = (int(s) for s in args.seeds.split("-"))
    with open(os.path.join(lib.HERE, "..", "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    results = []
    for seed in range(first, last + 1):
        out = subprocess.run([sys.executable, os.path.join(lib.HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(args.trace)],
                             capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr}")
        line = out.stdout.strip().splitlines()[-1]
        print(f"seed {seed}: {line}", flush=True)
        results.append(json.loads(line))
    for name, m in results[0]["metrics"].items():
        xs = [r["metrics"][name]["value"] for r in results]
        spread = f"{lib.iqr_share(xs):.3f}" if len(xs) > 1 and lib.median(xs) else "-"
        print(f"{name:24s} median {lib.median(xs):12.4f} {m['unit']:6s} iqr/median {spread}")


if __name__ == "__main__":
    main()
