#!/usr/bin/env python3
"""Check that a workload's traced counts repeat exactly for one seed.

Usage (from the repository root):

    python3 perfbench/check_repeat.py --workload pos --seed 7

Runs `perfbench/run.py --trace 1` twice with the same seed and compares
every per-layer job, stage and output-file count and the HTTP request
count. These are the counts a later change may cite as evidence, so they
must not move between two runs of the same code. Exits 1 on a mismatch.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = (".jobs", ".stages", ".output_files", ".http_requests")


def traced(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=2)
    a = ap.parse_args()
    first, second = (traced(a.workload, a.seed, a.seconds) for _ in range(2))
    keys = sorted(k for k in first if k.endswith(EXACT))
    bad = [k for k in keys if first[k]["value"] != second[k]["value"]]
    for k in keys:
        mark = "MISMATCH" if k in bad else "ok"
        print(f"{mark:8s} {k:40s} {first[k]['value']} {second[k]['value']}")
    print(f"{len(keys) - len(bad)}/{len(keys)} counts repeat exactly")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
