#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [WORKLOAD ...]

Runs perfbench/run.py once per seed on each workload (all of BENCHMARK.json's
workloads by default), then prints, for every end-to-end metric, the median
of its values and the distance between their first and third quartile
(statistics.quantiles(values, n=4)) as a share of that median, next to the
metric's bound from BENCHMARK.json. Each run's figures and the share of the
machine's CPU time the hypervisor stole from it during the run go out first,
as comment lines. Run it from the root of a checkout.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])
    host = record.get("host") or {}
    print(f"<!-- {workload} seed {seed}: steal {host.get('steal_frac', float('nan')):.3f} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
          + f" correct={result['correct']} -->", flush=True)
    return result


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    print("| workload | metric | median | IQR/median | bound | bound/3 |")
    print("| --- | --- | --- | --- | --- | --- |")
    for w in workloads:
        results = [run(w, s, spec["run_seconds"])
                   for s in range(args.first_seed, args.first_seed + args.runs)]
        bad = [r for r in results if not r["correct"]]
        for m in spec["end_to_end"]:
            med, sp = spread([r["metrics"][m["name"]]["value"] for r in results])
            print(f"| {w} | {m['name']} | {med:.4g} {m['unit']} | {sp:.3f} | {m['bound']} "
                  f"| {'ok' if sp < m['bound'] / 3 else 'WIDE'} |", flush=True)
        if bad:
            print(f"| {w} | {len(bad)} of {len(results)} runs not correct | | | | |")


if __name__ == "__main__":
    main()
