#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds run records as run.py writes them to .bench_out/results.jsonl
(one JSON object per line). Runs are grouped by workload and trace flag. The
comparison refuses to go on when the two sides were measured differently:
another worker count, master, heap, shuffle partition count, run length or
benchmark code (the stamps run.py and the harness put on every run). Engine
source and git commit are expected to differ; they are what is compared.

For each metric it prints both medians with their quartiles and the change
of the median as a share of the base median. An end-to-end metric whose
change is worse than its bound in BENCHMARK.json is marked WORSE; one whose
base quartile spread is wider than its bound is marked UNRESOLVED.
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Stamps that must agree between the two sides for the numbers to compare.
SAME = ("nproc", "master", "heap_mb", "jvm_flags", "shuffle_partitions", "seconds",
        "bench_sha")


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for key in SAME:
        seen = {(side, json.dumps(r["stamp"].get(key))) for side, rs in (("base", base), ("change", change))
                for r in rs}
        values = {v for _, v in seen}
        if len(values) > 1:
            sys.exit(f"refused: runs differ in stamp '{key}': {sorted(values)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    groups = sorted({(r["workload"], r["stamp"]["trace"]) for r in base + change})
    for workload, trace in groups:
        b = [r for r in base if r["workload"] == workload and r["stamp"]["trace"] == trace]
        c = [r for r in change if r["workload"] == workload and r["stamp"]["trace"] == trace]
        if not b or not c:
            print(f"{workload} trace={trace}: runs on one side only, skipped")
            continue
        print(f"\n{workload} (trace={trace}; {len(b)} base runs, {len(c)} change runs)")
        print(f"{'metric':32s} {'base q1/med/q3':>30s} {'change q1/med/q3':>30s} {'change':>8s}")
        for name in sorted(set(b[0]["metrics"]) & set(c[0]["metrics"])):
            bq = quartiles([r["metrics"][name] for r in b])
            cq = quartiles([r["metrics"][name] for r in c])
            rel = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            note = ""
            if name in bounds:
                worse = rel if better[name] == "lower" else -rel
                spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("inf")
                if spread > bounds[name]["bound"]:
                    note = "UNRESOLVED"
                elif worse > bounds[name]["bound"]:
                    note = "WORSE"
            print(f"{name:32s} {'%.4g/%.4g/%.4g' % bq:>30s} {'%.4g/%.4g/%.4g' % cq:>30s} "
                  f"{rel:+8.1%} {note}")


if __name__ == "__main__":
    main()
