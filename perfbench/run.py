#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source on first use (into
.bench_build/), runs one workload in a fresh JVM at local[nproc] with its
own temporary root, checks the answers (DuckDB for the SQL-expressible
ones), deletes the root and prints one JSON object as the last line.
--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import checks
import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 150
HEAP = "3g"
# Scale factor of the generated inputs, for every workload. Requests are
# planning- and scheduling-bound, so sf0.1 hardly moves their latency while
# tripling set-up, and the backfill job over sf0.1's 53 M edges does not fit
# the per-run limit; perfbench/README.md has the probe numbers.
SF = 0.01

END_TO_END_UNITS = {
    "setup_s": "s", "p50_ms": "ms", "tail_ms": "ms",
    "ops_per_s": "1/s", "space_amp": "ratio",
}

def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    return "count"


# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("Spark jars not found (set SPARK_HOME)")
    return str(Path(home) / "jars")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        die(f"engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def build():
    """Compiles once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    (BUILD / "build.log").write_text(out.stdout)
    cp = [ln for ln in out.stdout.splitlines()
          if ln.startswith("/") and "perfbench" in ln and ":" in ln]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    return cp[-1]


def run_jvm(cp, args, run_root):
    (run_root / "tmp").mkdir(parents=True)
    g0 = time.time()
    sizes = gen.generate(run_root / "data", SF, args.seed)
    gen_s = time.time() - g0
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_root / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", str(run_root)])
    log = run_root / "jvm.log"
    j0 = time.time()
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_root, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not (run_root / "result.json").exists():
        sys.stderr.write(log.read_text()[-6000:])
        die(f"benchmark JVM failed ({rc})")
    res = json.loads((run_root / "result.json").read_text())
    res["details"].update(sf=SF, sizes=sizes, gen_s=gen_s, jvm_s=time.time() - j0)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    t0 = time.time()
    cp = build()
    run_root = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    try:
        res = run_jvm(cp, args, run_root)
        failures = list(res["failures"])
        c0 = time.time()
        failures += checks.verify(run_root / "checks.jsonl", run_root / "data")
        res["details"]["duckdb_checks_s"] = time.time() - c0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    attempted = int(res["attempted"])
    failed = int(res["failed_jvm"]) + len(failures) - len(res["failures"])
    details = res["details"]
    details["wall_s"] = time.time() - t0
    details["end_to_end"] = res["metrics"]
    print(json.dumps({"details": details}, sort_keys=True))
    for f in failures[:20]:
        print(f"FAILED: {f}")
    if args.trace:
        print("top spans by driver gap (per call):")
        for s in details.get("top_driver_gap", []):
            print(f"  {s['span']:<48} calls={s['calls']:<4} self={s['self_ms']:9.1f} ms"
                  f"  gap={s['driver_gap_ms']:9.1f} ms  jobs={s['jobs']:.1f}")
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
