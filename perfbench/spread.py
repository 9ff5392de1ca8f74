#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for each
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
of the values, beside a third of the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload graph_loops --seeds 1-10 [--seconds S]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    values = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-2000:])
            sys.exit(f"seed {seed}: run failed")
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for metric in bench["end_to_end"]:
        v = values[metric["name"]]
        print(f"{metric['name']:14s} median {statistics.median(v):10.4g}  "
              f"spread {stats.quartile_spread(v):.4f}  (a third of the bound: "
              f"{metric['bound'] / 3:.4f})")


if __name__ == "__main__":
    main()
