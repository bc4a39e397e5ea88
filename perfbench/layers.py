#!/usr/bin/env python3
"""Where a workload's time goes: per-layer spans and tracing overhead.

    python3 perfbench/layers.py --workload backfill --seed 1

Runs the workload untraced and traced on the same seed. Prints the spans
with the largest driver gap per call (span wall time minus the union of
its Spark jobs' intervals), and the tracing overhead: each end-to-end
metric of the traced run relative to the untraced one.
"""
import argparse

from steady import ROOT, bench_spec, run_once


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()
    seconds = bench_spec()["run_seconds"]
    _, plain = run_once(ROOT, args.workload, args.seed, seconds, 0, with_details=True)
    traced, tdet = run_once(ROOT, args.workload, args.seed, seconds, 1, with_details=True)

    m = traced["metrics"]
    spans = sorted({k.rsplit(".", 1)[0] for k in m if k.count(".") == 2})
    rows = [(s, m[f"{s}.self_ms"]["value"], m[f"{s}.driver_gap_ms"]["value"],
             m[f"{s}.jobs"]["value"], m[f"{s}.shuffle_mb"]["value"]) for s in spans]
    rows = [r for r in rows if r[1] > 0]
    rows.sort(key=lambda r: -r[2])
    print(f"{args.workload} seed {args.seed}: top spans by driver gap (means per call)")
    print(f"{'span':<48} {'self_ms':>10} {'gap_ms':>10} {'gap%':>6} {'jobs':>7} {'shuffle_mb':>11}")
    for s, self_ms, gap, jobs, mb in rows[:args.top]:
        print(f"{s:<48} {self_ms:10.1f} {gap:10.1f} {100 * gap / self_ms:5.0f}% "
              f"{jobs:7.1f} {mb:11.3f}")
    for k in ("spark.job_busy_ms", "spark.driver_gap_ms", "spark.gc_ms",
              "spark.spill_mb", "run.leaked_mb"):
        print(f"{k:<48} {m[k]['value']:10.1f}")
    print("\ntracing overhead (traced vs untraced, same seed):")
    for k, v in plain["end_to_end"].items():
        t = tdet["end_to_end"][k]
        print(f"  {k:<12} untraced {v:12.4f}  traced {t:12.4f}  ({100 * (t - v) / v:+.1f}%)")


if __name__ == "__main__":
    main()
