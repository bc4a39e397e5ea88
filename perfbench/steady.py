#!/usr/bin/env python3
"""Steadiness: run one workload N times and report each metric's spread.

    python3 perfbench/steady.py --workload serve --runs 10 --first-seed 100

Runs perfbench/run.py with seeds first-seed .. first-seed+N-1 and prints,
for every metric, the median, the quartiles (Python's
statistics.quantiles(n=4)) and the spread, (Q3 - Q1) / median. An
end-to-end metric whose spread exceeds a tenth is flagged, as is one whose
spread exceeds a third of its bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench_spec(root=ROOT):
    return json.loads((root / "BENCHMARK.json").read_text())


def run_once(root, workload, seed, seconds, trace, with_details=False):
    """Runs one workload; returns its result line (and its details)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not with_details:
        return result
    details = next(json.loads(ln)["details"] for ln in lines if ln.startswith('{"details"'))
    return result, details


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="write every run's result here (JSON)")
    args = ap.parse_args()
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results = []
    for i in range(args.runs):
        r = run_once(ROOT, args.workload, args.first_seed + i, spec["run_seconds"], args.trace)
        results.append(r)
        print(f"run {i + 1}/{args.runs} seed {args.first_seed + i}: correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())
                         if k in bounds), flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(results))

    print(f"\n{args.workload}: {args.runs} runs, seeds {args.first_seed}.."
          f"{args.first_seed + args.runs - 1}")
    print(f"{'metric':<56} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>8}")
    bad = 0
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        if statistics.median(vals) == 0:
            continue
        med, q1, q3, s = spread(vals)
        flag = ""
        if name in bounds:
            if s > 0.1:
                flag += "  DOES NOT REPEAT WITHIN 1/10"
            if name != "setup_s" and s > bounds[name] / 3:
                flag += f"  over bound/3 ({bounds[name] / 3:.3f})"
            bad += bool(flag)
        print(f"{name:<56} {med:12.4f} {q1:12.4f} {q3:12.4f} {s:8.3f}{flag}")
    wrong = sum(not r["correct"] for r in results)
    print(f"\nincorrect runs: {wrong}; flagged end-to-end metrics: {bad}")


if __name__ == "__main__":
    main()
