#!/usr/bin/env python3
"""Tracing overhead of one workload: runs it untraced and traced with the
same seed and prints the round time of each and their difference.

    python3 bench/overhead.py --workload block_etl --seed 1 --seconds 10
"""

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def round_s(args, trace):
    p = subprocess.run([sys.executable, RUN, "--workload", args.workload, "--seed",
                        str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed (trace {trace}):\n{p.stderr[-3000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    if trace:
        return last["trace.round_s"]["value"]
    # the untraced run prints its round time on the summary line
    for line in p.stderr.splitlines():
        if line.strip().startswith("[bench]   round_s"):
            return float(line.split()[2])
    sys.exit("untraced run printed no round_s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = round_s(args, 0), round_s(args, 1)
    print(f"{args.workload}: round_s untraced {plain:.4f} s, traced {traced:.4f} s, "
          f"overhead {traced - plain:+.4f} s ({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
