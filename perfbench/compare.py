#!/usr/bin/env python3
"""Parent-vs-change comparison of the end-to-end metrics.

    python3 perfbench/compare.py --parent ../parent --change . --pairs 10

Both arguments are checkouts (each with BENCHMARK.json and perfbench/).
Every workload runs in `--pairs` pairs; pair i uses seed first-seed+i on
both sides and alternates which side runs first. Run length and benchmark
code are each side's own, so compare checkouts that share the benchmark.

Per workload and metric it prints each side's median and quartiles, the
change's wins over the parent (ties count for neither), and a verdict:
  gain        - the change wins at least 9 of every 10 pairs and the medians
                differ by more than the parent's interquartile range;
  regression  - the change's median is worse than the parent's by more than
                the metric's bound in BENCHMARK.json;
  unresolved  - either side's spread (IQR / median) exceeds the bound, and
                not every change run beats every parent run;
  no change   - otherwise.
"""
import argparse
import statistics
from pathlib import Path

from steady import bench_spec, run_once


def quartiles(v):
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(parent, change, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    worse_by = sign * (pm - cm) / pm
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if wins >= 0.9 * len(parent) and sign * (cm - pm) > (p3 - p1):
        v = "gain"
    elif max((p3 - p1) / pm, (c3 - c1) / cm) > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "regression"
    else:
        v = "no change"
    return wins, (p1, pm, p3), (c1, cm, c3), v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workload", action="append",
                    help="workload(s) to compare; default: all in BENCHMARK.json")
    args = ap.parse_args()
    spec = bench_spec(args.change)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]

    rows = []
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                root = args.parent if side == "parent" else args.change
                runs[side].append(run_once(root, w, seed, bench_spec(root)["run_seconds"], 0))
            print(f"{w} pair {i + 1}/{args.pairs} done", flush=True)
        for side in runs:
            bad = sum(not r["correct"] for r in runs[side])
            if bad:
                print(f"WARNING: {w}: {bad} {side} runs reported wrong answers")
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
            c = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
            rows.append((w, m["name"]) + verdict(p, c, m["better"], m["bound"]))

    print(f"\n{'workload':<10} {'metric':<12} {'parent Q1/med/Q3':>32} "
          f"{'change Q1/med/Q3':>32} {'wins':>6}  verdict")
    for w, name, wins, pq, cq, v in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{w:<10} {name:<12} {fmt(pq):>32} {fmt(cq):>32} "
              f"{wins:>3}/{args.pairs}  {v}")


if __name__ == "__main__":
    main()
