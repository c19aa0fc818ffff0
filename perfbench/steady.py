#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics: run one workload N times back to
back, each with another seed, and print per metric the median, the
interquartile range (as `statistics.quantiles(values, n=4)` gives the
quartiles) as a share of the median, and the min and max.

    python3 perfbench/steady.py --workload wiki-etl --runs 10 --seconds 6

Run from the repository root. Each run's result line is printed as it
arrives; the summary is the last line, one JSON object.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "iqr_share": (q3 - q1) / med if med else None,
            "min": min(values), "max": max(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    values, failed_share = {}, set()
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **res}), flush=True)
        if not res["correct"]:
            sys.exit(f"seed {seed}: outputs failed their checks")
        failed_share.add(res["failed"] / res["attempted"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(json.dumps({"workload": args.workload, "runs": args.runs,
                      "failed_share": sorted(failed_share),
                      "metrics": {k: summary(v) for k, v in values.items()}}))


if __name__ == "__main__":
    main()
