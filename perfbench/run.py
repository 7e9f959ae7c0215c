#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON result line.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload plc_live --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from the checkout's sources on first use
(sbt, offline), generates the workload's inputs from --seed, runs the
workload in a fresh JVM with Spark local[nproc], checks every output
against a known-correct answer, and prints as its last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(and writes the run's spans under .bench_out/traces/). The line above
the result carries the workload's own named figures ("detail").
Exit status is 0 only for a correct run with no failed operation.
See perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("plc_live", "ingest_serve", "curate_batch")
RUN_BUDGET_S = 170          # the whole run, build excluded
BUILD_BUDGET_S = 840
GEN_REPS = 3                # input generations timed per run (setup_s)
JVM_HEAP = "3g"
# A fixed young generation makes G1 collect after every 256 MB allocated,
# so heap_peak_mb (the largest heap left after a GC) samples the heap
# often enough to read the same from run to run; see NOTES.md.
JVM_YOUNG = "256m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_digest(root):
    """Digest of everything the build compiles, so a changed checkout
    rebuilds and an unchanged one does not."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for t in trees:
        for d, dirs, fs in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, home):
    """Compile graft and the benchmark with sbt, offline, unless the
    sources are unchanged since the last build in this checkout."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest(root)
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Djava.io.tmpdir={tmp}", "compile", "Compile/copyResources"]
    print("perfbench: building graft + benchmark (sbt compile)", file=sys.stderr)
    rc = run_bounded(cmd, HERE, env, BUILD_BUDGET_S)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_bounded(cmd, cwd, env, budget_s):
    """Run cmd in its own process group, stdout to our stderr, and kill
    the whole group if it outlives budget_s. Waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, budget_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded its {budget_s:.0f}s budget and was stopped")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stopped run still stops its JVM: SystemExit unwinds run_bounded
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    home = spark_home()
    classes = build(root, home)

    t_start = time.monotonic()
    out_root = os.path.join(root, ".bench_out")
    work = os.path.join(out_root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = []
        if a.workload == "curate_batch":
            import gen_tables
            for _ in range(GEN_REPS):
                t0 = time.monotonic()
                gen_tables.generate(os.path.join(work, "tables"), a.seed)
                gen_s.append(time.monotonic() - t0)

        result = os.path.join(work, "result.json")
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-Dderby.system.home=" + os.path.join(work, "tmp")] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", os.pathsep.join([classes, os.path.join(home, "jars", "*")]),
                "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--result", result,
                "--cores", str(len(os.sched_getaffinity(0))),
                "--input-gen-s", ",".join(f"{s:.6f}" for s in gen_s)])
        budget = RUN_BUDGET_S - (time.monotonic() - t_start)
        rc = run_bounded(cmd, root, dict(os.environ, SPARK_HOME=home), budget)
        if not os.path.isfile(result):
            fail(f"benchmark JVM exited {rc} without a result")
        res = json.load(open(result))

        correct = res["correct"] and rc == 0
        if correct and a.workload == "curate_batch":
            # graft's own DuckDB oracle check, value for value, over the
            # same tables; its report goes to stderr
            budget = RUN_BUDGET_S - (time.monotonic() - t_start)
            orc = run_bounded([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                               os.path.join(work, "tables"), os.path.join(work, "results")],
                              root, dict(os.environ), budget)
            if orc != 0:
                print("perfbench: check failed: results differ from their DuckDB oracles",
                      file=sys.stderr)
            correct = orc == 0

        if a.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out_root, "traces", f"{a.workload}-{a.seed}.jsonl"))
        print(json.dumps({"detail": res["detail"]}))
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
        sys.exit(0 if correct and res["failed"] == 0 and rc == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
