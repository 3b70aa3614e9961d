#!/usr/bin/env python3
"""Runs the benchmark on several seeds and prints, per end-to-end metric, the median
and the quartile spread (Q3 - Q1) / median that BENCHMARK.json's bounds apply to.

    python3 perfbench/spread.py --workload serve_queries --seeds 1-10 [--json out.json]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls, bad = {}, [], []
    for seed in seeds(args.seeds):
        t0 = time.time()
        r = subprocess.run(bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        out = json.loads(r.stdout.strip().splitlines()[-1])
        if r.returncode or not out["correct"]:
            bad.append(seed)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={out['correct']} "
              f"failed={out['failed']}/{out['attempted']}", file=sys.stderr, flush=True)
    report = {}
    for k, v in values.items():
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        report[k] = {"median": med, "spread": (q3 - q1) / med, "bound": bounds.get(k)}
        print(f"{k:34s} median {med:12.4f}  spread {report[k]['spread']:.4f}  "
              f"bound {bounds.get(k)}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
          f"incorrect seeds: {bad}")
    if args.json:
        json.dump({"workload": args.workload, "metrics": report, "walls": walls,
                   "values": values, "incorrect": bad}, open(args.json, "w"), indent=1)


if __name__ == "__main__":
    main()
