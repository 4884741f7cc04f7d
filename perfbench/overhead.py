#!/usr/bin/env python3
"""Tracing overhead: runs one workload untraced and then traced with the
same seed and compares their timed operations, which are the same
requests after the same set-up in both runs.

Run from the repository root:

    python3 perfbench/overhead.py --workload <w> --seed <n> [--seconds <s>]

Prints one JSON object with each run's `latency_p50_s` and `ops_per_s`
and the overhead in percent: the traced run's operation time per unit
served over the untraced run's, minus one.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PREFIX = "perfbench summary "


def summary(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    line = next(x for x in out.splitlines() if x.startswith(PREFIX))
    return json.loads(line[len(PREFIX):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    runs = {t: summary(a.workload, a.seed, a.seconds, t) for t in (0, 1)}
    pct = 100.0 * (runs[0]["ops_per_s"] / runs[1]["ops_per_s"] - 1.0)
    print(json.dumps({
        "workload": a.workload, "seed": a.seed,
        "untraced": {k: runs[0][k] for k in ("latency_p50_s", "ops_per_s")},
        "traced": {k: runs[1][k] for k in ("latency_p50_s", "ops_per_s")},
        "overhead_pct": pct}))


if __name__ == "__main__":
    main()
