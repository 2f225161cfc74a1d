#!/usr/bin/env python3
"""Count repeatability check: two traced runs of one seed must report the
same host-invariant counts (jobs, tasks, shuffle and written bytes per
module, and the table log's file counts).

    python3 graftbench/repeat_check.py --workload lake_churn --seed 1

Prints each count that differs with both values and its relative spread;
exits 1 if any differs.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = re.compile(r"^(\w+\.(jobs|tasks|shuffle_bytes|written_bytes)|TableLog\.\w+_files)$")


def traced(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", "1"],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return {k: v["value"] for k, v in json.loads(out.splitlines()[-1])["metrics"].items()
            if COUNTS.match(k)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    a = traced(args.workload, args.seed)
    b = traced(args.workload, args.seed)
    diff = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    for k, (x, y) in sorted(diff.items()):
        print(f"DIFFERS {k}: {x} vs {y} ({abs(x - y) / max(abs(x), abs(y)):.2%})")
    print(f"{args.workload} seed={args.seed}: {len(a) - len(diff)}/{len(a)} counts repeat exactly")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
