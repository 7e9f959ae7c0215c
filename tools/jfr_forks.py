#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

Usage:
    python3 tools/jfr_forks.py <recording.jfr> [--top N]

Reads the recording's `jdk.ProcessStart` events through `jfr print
--json` and prints, as one JSON object:

- `total`: the number of processes started;
- `by_command`, `by_path_class`, `by_thread`: counts grouped by the
  program (`chmod`, `readlink`, `ls`, ...), by what the program's last
  path argument names (a streaming checkpoint's `offsets`, `commits`,
  `state` or `sources` directory, else the nearest table-like directory)
  and by the starting thread (UUIDs in names folded to `<uuid>`,
  thread numbers to `#`);
- `per_epoch`: for each streaming epoch, its processes by program
  (an epoch that started none maps to `{}`). Epoch N starts at the first
  event of the recording (a process start, or a `jdk.FileWrite` /
  `jdk.FileRead` event) whose path names `offsets/N` or its temporary
  file `offsets/.N.<uuid>.tmp`; processes before the first mark count as
  `start`. A recording without such marks (a fork-free offsets log and
  no file events) has only `start`. Record file events for every write
  with `-XX:StartFlightRecording:jdk.FileWrite#threshold=0ms,...`.

The `jfr` tool of the JDK must be on PATH.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

CHECKPOINT_DIRS = ("offsets", "commits", "state", "sources", "metadata")
OFFSET = re.compile(r"/offsets/\.?(\d+)(?:\.[^/]*\.tmp)?$")
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
SKIP = re.compile(r"^(_temporary|attempt_.*|\d+|[^/]*=[^/]*|\..*)$")


def events(path):
    out = subprocess.run(["jfr", "print", "--json", "--events",
                          "jdk.ProcessStart,jdk.FileWrite,jdk.FileRead", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def path_class(command):
    args = command.split()
    target = next((a for a in reversed(args) if "/" in a), "")
    parts = [p for p in target.split("/") if p]
    for d in CHECKPOINT_DIRS:
        if d in parts[:-1] or (parts and parts[-1] == d):
            return d
    for p in reversed(parts[:-1]):
        if not SKIP.match(p):
            return UUID.sub("<uuid>", p)
    return UUID.sub("<uuid>", parts[-1]) if parts else "(none)"


def thread_of(ev):
    t = ev["values"].get("eventThread") or {}
    return re.sub(r"\d+", "#", UUID.sub("<uuid>", t.get("javaName") or t.get("osName") or "?"))


def summarize(evs, top):
    evs = sorted(evs, key=lambda e: e["values"]["startTime"])
    forks = []
    epoch, per_epoch = "start", {"start": collections.Counter()}
    for ev in evs:
        v = ev["values"]
        text = (v.get("command") if ev["type"] == "jdk.ProcessStart" else v.get("path")) or ""
        m = OFFSET.search(text.split()[-1] if text.strip() else "")
        if m:
            epoch = int(m.group(1)) if epoch == "start" else max(epoch, int(m.group(1)))
            per_epoch.setdefault(epoch, collections.Counter())
        if ev["type"] == "jdk.ProcessStart":
            forks.append(ev)
            per_epoch[epoch][text.split()[0] if text.strip() else "?"] += 1
    cmds = [e["values"].get("command") or "" for e in forks]
    return {
        "total": len(forks),
        "by_command": dict(collections.Counter(c.split()[0] if c else "?" for c in cmds)
                           .most_common(top)),
        "by_path_class": dict(collections.Counter(path_class(c) for c in cmds).most_common(top)),
        "by_thread": dict(collections.Counter(thread_of(e) for e in forks).most_common(top)),
        "per_epoch": {str(k): dict(per_epoch[k])
                      for k in sorted(per_epoch, key=lambda k: -1 if k == "start" else k)},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="groups shown per grouping")
    a = ap.parse_args()
    try:
        evs = events(a.recording)
    except (OSError, subprocess.CalledProcessError) as e:
        sys.exit(f"jfr_forks: cannot read {a.recording}: {e}")
    print(json.dumps(summarize(evs, a.top), indent=1))


if __name__ == "__main__":
    main()
