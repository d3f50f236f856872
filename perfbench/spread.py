#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and spread (quartile distance over median), as the steadiness check in
README.md describes.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--trace 0]

Prints one line per run and a table at the end; exits non-zero when a
run fails or when an end-to-end metric other than setup_s spreads by
more than a third of its bound in BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, shares, ok = {}, set(), True
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            ok = False
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        shares.add((res["failed"] / res["attempted"], res["correct"]))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.1f} s, attempted {res['attempted']} "
              f"failed {res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    print(f"failed share / correct: {sorted(shares)}")
    for k, v in values.items():
        if len(v) < 2:
            continue
        s = stats.spread(v) if stats.median(v) else 0.0
        bound = bounds.get(k)
        flag = ""
        if bound is not None and k != "setup_s" and s > bound / 3:
            flag = "  SPREAD ABOVE A THIRD OF THE BOUND"
            ok = False
        print(f"{k:28s} median {stats.median(v):12.5g}  spread {s:7.4f}"
              + (f"  bound {bound}" if bound is not None else "") + flag)
    sys.exit(0 if ok and len(shares) <= 1 else 1)


if __name__ == "__main__":
    main()
