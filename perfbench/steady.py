#!/usr/bin/env python3
"""Steadiness report: run one workload N times, one seed each, and print for
every end-to-end metric its median, quartiles, the quartile spread and the
range as shares of the median. A range above 0.10 of the median is flagged.

    python3 perfbench/steady.py --workload catalog_sf01 --runs 10

Seeds 1..N, each run `run_seconds` (BENCHMARK.json) long. The quartiles are
`statistics.quantiles(values, n=4)`. Each run's result line is kept in the
report, so the figures can be recomputed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FLAG = 0.10


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        args.seconds = json.load(fh)["run_seconds"]
    results = []
    for seed in range(1, args.runs + 1):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                             stdout=subprocess.PIPE, text=True, check=True).stdout
        r = json.loads(out.strip().splitlines()[-1])
        results.append((seed, r))
        print(f"seed {seed}: {json.dumps(r)}", flush=True)
    print(f"\n{args.workload}: {args.runs} runs of {args.seconds} s, seeds 1..{args.runs}; "
          f"all correct: {all(r['correct'] for _, r in results)}, "
          f"failed {sum(r['failed'] for _, r in results)} of {sum(r['attempted'] for _, r in results)}")
    print(f"{'metric':<18}{'unit':<7}{'median':>10}{'q1':>10}{'q3':>10}{'iqr/med':>9}{'range/med':>11}")
    for name in results[0][1]["metrics"]:
        vals = [r["metrics"][name]["value"] for _, r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        rng = (max(vals) - min(vals)) / med
        print(f"{name:<18}{results[0][1]['metrics'][name]['unit']:<7}{med:>10.4g}{q1:>10.4g}{q3:>10.4g}"
              f"{(q3 - q1) / med:>9.3f}{rng:>11.3f}{'  FLAG' if rng > FLAG else ''}")


if __name__ == "__main__":
    main()
