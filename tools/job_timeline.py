#!/usr/bin/env python3
"""Print the Spark jobs of a run, one line each, from its event log.

Usage:
    python3 tools/job_timeline.py <event log> [--jobs FIRST:LAST] [--top N]

Record an event log by starting the JVM with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file://<dir>` (for
a benchmark run, through `JAVA_TOOL_OPTIONS`). The log is a file or a
rolling log's `eventlog_v2_*` directory; a zstd-compressed log (Spark's
default codec) is read through the `zstd` program, which must be on
PATH.

For each job (or those with ids FIRST to LAST) it prints:

- `start_s`: when the job was submitted, in seconds after the first
  printed job;
- `gap_ms`: the time before it in which no job ran (driver time), from
  the latest end of the jobs submitted before it;
- `dur_ms`, `tasks`: the job's duration and the tasks it ran (skipped
  stages run none);
- `site`: the first `graft.` frame (else the first `graftbench.` frame,
  the benchmark's) of the call site of the SQL execution the job belongs
  to, or else of its last stage (whose call site alone often names only
  Spark's broadcast or AQE thread pool).

Then, per call site, the jobs, tasks and summed gaps and durations, and
the run's totals.
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
FRAME = re.compile(r"^(?:at )?((graft|graftbench)\.[^\s]+\([^)]*\))")


def events(path):
    """The events of a log file, or of the numbered `events_N_*` files of
    a rolling (`eventlog_v2_*`) log directory, in order."""
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        for part in parts:
            yield from events(os.path.join(path, part))
        return
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] == ZSTD_MAGIC:
        data = subprocess.run(["zstd", "-dc"], input=data, check=True,
                              capture_output=True).stdout
    for line in data.decode("utf-8").splitlines():
        if line.strip():
            yield json.loads(line)


def graft_frame(details):
    """The first `graft.` frame of a call site, else its first
    `graftbench.` frame (the benchmark's own code), else None."""
    frames = [m for m in (FRAME.match(l.strip()) for l in (details or "").splitlines()) if m]
    ours = [m.group(1) for m in frames if m.group(2) == "graft"]
    return (ours or [m.group(1) for m in frames] or [None])[0]


def load(path):
    jobs = {}            # job id -> record
    stage_job = {}       # stage id -> job id
    exec_site = {}       # sql execution id -> site
    for e in events(path):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or []
            site = exec_site.get(props.get("spark.sql.execution.id"))
            if site is None and stages:
                site = graft_frame(stages[-1].get("Details"))
            jid = e["Job ID"]
            jobs[jid] = {"id": jid, "start": e["Submission Time"], "end": None,
                         "tasks": 0, "site": site or "?"}
            for sid in e.get("Stage IDs") or []:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e.get("Stage ID"))
            if jid is not None:
                jobs[jid]["tasks"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            site = graft_frame(e.get("details"))
            if site:
                exec_site[str(e["executionId"])] = site
    return [jobs[j] for j in sorted(jobs)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--jobs", help="FIRST:LAST, an inclusive range of job ids")
    ap.add_argument("--top", type=int, default=0, help="call sites to list (0 = all)")
    a = ap.parse_args()
    jobs = load(a.log)
    if not jobs:
        sys.exit(f"job_timeline: no jobs in {a.log}")
    ended = 0
    for j in jobs:  # gaps are measured over every job, printed or not
        j["gap"] = max(0, j["start"] - ended) if ended else 0
        ended = max(ended, j["end"] or j["start"])
    if a.jobs:
        first, last = (int(x) for x in a.jobs.split(":"))
        jobs = [j for j in jobs if first <= j["id"] <= last]
        if not jobs:
            sys.exit(f"job_timeline: no jobs with ids {a.jobs}")
    t0 = jobs[0]["start"]
    print(f"{'job':>5} {'start_s':>8} {'gap_ms':>7} {'dur_ms':>7} {'tasks':>5}  site")
    for j in jobs:
        dur = (j["end"] or j["start"]) - j["start"]
        print(f"{j['id']:>5} {(j['start'] - t0) / 1000:8.3f} {j['gap']:7d} {dur:7d} "
              f"{j['tasks']:5d}  {j['site']}")
    by = collections.defaultdict(lambda: [0, 0, 0, 0])
    for j in jobs:
        s = by[j["site"]]
        s[0] += 1
        s[1] += j["tasks"]
        s[2] += j["gap"]
        s[3] += (j["end"] or j["start"]) - j["start"]
    rows = sorted(by.items(), key=lambda kv: (-kv[1][0], -kv[1][3]))
    if a.top:
        rows = rows[:a.top]
    print(f"\n{'jobs':>5} {'tasks':>6} {'gap_ms':>7} {'dur_ms':>7}  site")
    for site, (n, tasks, gap, dur) in rows:
        print(f"{n:5d} {tasks:6d} {gap:7d} {dur:7d}  {site}")
    total = [sum(x) for x in zip(*by.values())]
    print(f"{total[0]:5d} {total[1]:6d} {total[2]:7d} {total[3]:7d}  total")


if __name__ == "__main__":
    main()
