#!/usr/bin/env python3
"""Run one workload over several seeds and print, per metric, the median
and the quartile spread (Q3 - Q1) as a share of the median, the way the
benchmark's bounds are judged.

    python3 perfbench/spread.py --workload polling --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    values = {}
    for seed in seeds(args.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            continue
        result = json.loads(last)
        if args.out:
            log = [x for x in r.stdout.splitlines() if x.startswith("#")]
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **result, "log": log}) + "\n")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
            flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = float("nan")
        print(f"{k:24s} n={len(vs):2d} median={med:.5g} spread={spread:.3f}")


if __name__ == "__main__":
    main()
