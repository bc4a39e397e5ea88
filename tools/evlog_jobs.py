#!/usr/bin/env python3
"""Summarize a Spark event log: one line per job with duration, the driver
time before it, stage/task counts, and the job group / call site — the
per-phase breakdown the optimization rounds use to find where a lifecycle
row's wall time goes.

Usage: evlog_jobs.py [--unlabelled | --streams] <eventlog> [minMs]

The `gap` column is the ms from the previous job's end to this job's start:
driver-side time (planning, AQE re-optimisation, result handling). The
previous end is the latest end of any lower-numbered job, so a job that
overlaps an earlier one (two driver threads) shows a negative gap.

<eventlog> is a plain event log file, a zstd-compressed one (`*.zstd`,
`*.zst`), or a rolled log directory (`eventlog_v2_*`, Spark 4's default),
whose `events_*` files are read in index order. Compressed files are piped
through the installed `zstd -dc`.

A job whose own call site is unknown (`?` — AQE runs its stage jobs on a
pool thread, so they carry no caller frame) is labelled from its SQL
execution: the first `graft.`/`perfbench.` frame of that execution's
`SparkListenerSQLExecutionStart` details, found through the job's
`spark.sql.execution.id` property. A job outside any SQL execution (file
listing and schema inference when a parquet path is read) falls back to
the first such frame of its stages' details.

`--unlabelled` lists only the jobs nothing attributes: no description of
their own, and a resolved call site that is `?` or a bare `start at
Streams.scala` (a streaming micro-batch job outside a labelled drain). The
description Spark gives every micro-batch job (`id = <uuid> runId = <uuid>
batch = <n>`) names no step, so it counts as none. It exits 1 when there is
any.

`--streams` prints one line per streaming micro-batch instead, from each
`QueryProgressEvent`: the query name, `batchId`, input rows and the
`durationMs` split — `triggerExecution`, and within it `addBatch` (the sink's
jobs), `latestOffset`, `getBatch`, `queryPlanning`, `walCommit` (the offset
log) and `commitOffsets` (the commit log). Trigger time not in the named
parts is shown as `other`.
"""
import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

FRAME_PREFIXES = ("graft.", "perfbench.")
BARE_STREAM_SITE = re.compile(r"start at Streams\.scala(:\d+)?")
SPARK_BATCH_DESC = re.compile(r"(.* )?id = [0-9a-f-]+ runId = [0-9a-f-]+ "
                              r"batch = \d+")


def log_files(path):
    p = Path(path)
    if not p.is_dir():
        return [p]
    def index(f):
        m = re.match(r"events_(\d+)_", f.name)
        return int(m.group(1)) if m else -1
    return sorted((f for f in p.iterdir() if f.name.startswith("events_")),
                  key=index)


def lines(path):
    for f in log_files(path):
        if f.suffix in (".zstd", ".zst"):
            out = subprocess.run(["zstd", "-dc", str(f)], check=True,
                                 capture_output=True).stdout
            yield from out.decode("utf-8").splitlines()
        else:
            with open(f) as fh:
                yield from fh


def first_frame(details):
    """The first engine or benchmark frame of a call-site long form."""
    for frame in (details or "").splitlines():
        frame = frame.strip()
        if frame.startswith(FRAME_PREFIXES):
            return frame
    return None


def read_jobs(path):
    """Job id -> job, with `?` call sites resolved as the module doc says."""
    jobs = {}
    executions = {}
    for line in lines(path):
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stage_frames = [first_frame(st.get("Details"))
                            for st in e.get("Stage Infos", [])]
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "end": None,
                "site": props.get("callSite.short", "?"),
                "stage_frame": next((f for f in stage_frames if f), None),
                "execution": props.get("spark.sql.execution.id"),
                "desc": props.get("spark.job.description", ""),
                "stages": len(e.get("Stage Infos", [])),
                "tasks": sum(s.get("Number of Tasks", 0)
                             for s in e.get("Stage Infos", [])),
            }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            executions[str(e["executionId"])] = first_frame(e.get("details"))
    for j in jobs.values():
        if j["site"] in ("?", ""):
            j["site"] = (executions.get(str(j["execution"]))
                         or j["stage_frame"] or "?")
    return jobs


def unlabelled(jobs):
    """Prints the jobs nothing attributes; the exit status is 1 if any."""
    def described(j):
        desc = " ".join(j["desc"].split())
        return desc and not SPARK_BATCH_DESC.fullmatch(desc)
    bare = [(jid, j) for jid, j in sorted(jobs.items())
            if not described(j) and (j["site"] in ("?", "")
                                     or BARE_STREAM_SITE.fullmatch(j["site"]))]
    for jid, j in bare:
        print(f"{jid:>4}  {j['site']}")
    print(f"-- {len(bare)} of {len(jobs)} jobs unlabelled")
    return 1 if bare else 0


STREAM_PARTS = ("addBatch", "latestOffset", "getBatch", "queryPlanning",
                "walCommit", "commitOffsets")


def streams(path):
    """Prints one line per micro-batch progress event."""
    batches = []
    for line in lines(path):
        if "QueryProgressEvent" not in line:
            continue
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        if e.get("Event", "").endswith("QueryProgressEvent"):
            batches.append(e["progress"])
    print(f"{'batch':>5} {'rows':>6} {'trigger':>8} "
          + " ".join(f"{p:>13}" for p in STREAM_PARTS)
          + f" {'other':>6}  query  [timestamp]")
    total = 0
    for b in batches:
        d = b.get("durationMs") or {}
        trigger = d.get("triggerExecution", 0)
        total += trigger
        other = trigger - sum(d.get(p, 0) for p in STREAM_PARTS)
        print(f"{b.get('batchId', '?'):>5} {b.get('numInputRows', 0):>6} "
              f"{trigger:>8} "
              + " ".join(f"{d.get(p, 0):>13}" for p in STREAM_PARTS)
              + f" {other:>6}  {b.get('name') or b.get('id', '?')}"
              f"  [{b.get('timestamp', '')}]")
    print(f"-- {len(batches)} micro-batches, sum of trigger {total / 1000.0:.2f}s")


def main(path, min_ms=0):
    jobs = read_jobs(path)
    total = 0
    rows = []
    prev_end = None
    for jid, j in sorted(jobs.items()):
        if j["end"] is None:
            continue
        ms = j["end"] - j["start"]
        gap = None if prev_end is None else j["start"] - prev_end
        prev_end = j["end"] if prev_end is None else max(prev_end, j["end"])
        total += ms
        if ms >= min_ms:
            rows.append((jid, ms, gap, j))
    print(f"{'job':>4} {'ms':>7} {'gap':>7} {'stg':>4} {'task':>5}  "
          "site / description")
    for jid, ms, gap, j in rows:
        label = j["site"]
        if j["desc"]:
            label += f"  [{' '.join(j['desc'].split())[:60]}]"
        gap_s = "" if gap is None else str(gap)
        print(f"{jid:>4} {ms:>7} {gap_s:>7} {j['stages']:>4} {j['tasks']:>5}"
              f"  {label}")
    unlabelled = sum(j["site"] in ("?", "") for _, _, _, j in rows)
    print(f"-- {len(jobs)} jobs, sum of job wall {total/1000.0:.2f}s, "
          f"{unlabelled} without a call site "
          "(jobs can overlap; gaps between jobs are driver-side time)")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Summarize a Spark event log.")
    ap.add_argument("eventlog")
    ap.add_argument("min_ms", nargs="?", type=int, default=0)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--unlabelled", action="store_true",
                      help="list unattributed jobs; exit 1 if any")
    mode.add_argument("--streams", action="store_true",
                      help="one line per streaming micro-batch's duration split")
    args = ap.parse_args()
    if args.streams:
        streams(args.eventlog)
    elif args.unlabelled:
        sys.exit(unlabelled(read_jobs(args.eventlog)))
    main(args.eventlog, args.min_ms)
