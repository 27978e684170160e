#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's median and its
spread (interquartile range / median, statistics.quantiles n=4) against the
bound in BENCHMARK.json -- the steadiness test a benchmark change must pass.

    python3 perfbench/spread.py --workload docs --seeds 101-110 [--trace 0]
"""
import argparse
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = str(spec["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        # the host's share of the box, which a slow spell of a neighbour shows
        steal = re.search(r"box steal median ([\d.]+)", p.stdout)
        print(f"seed {seed}: wall {time.monotonic() - t0:.1f} s "
              f"steal={steal.group(1) if steal else '?'} correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if k in bounds), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        s = bl.spread(xs)
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if s <= b / 3 else " WITHIN BOUND" if s <= b else " OVER BOUND")
        print(f"{k}: median {bl.median(xs):.6g} spread {s:.4f}"
              + ("" if b is None else f" (bound {b})") + flag)


if __name__ == "__main__":
    main()
