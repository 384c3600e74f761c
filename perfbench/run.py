#!/usr/bin/env python3
"""Benchmark launcher for graft: one workload, one fresh JVM.

    python3 perfbench/run.py --workload frontier_seen --seed 42 --seconds 10 --trace 0

Run from the repo root. It builds the classes when a source changed
(perfbench/build.py), starts `perfbench.Bench` on local[nproc] with the
driver heap of the Tier-1 rule (MemTotal/2, clamped to 2..8 GiB), inside a
fresh scratch root that is deleted afterwards, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones and the spans are written to
.bench_build/traces/<workload>-seed<seed>.json. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("frontier_seen", "frontier_exact", "crawl_epochs")
JVM_SECONDS = 170  # a hung JVM is killed before a run passes three minutes

# Spark 4 on JDK 17 outside spark-submit: the same --add-opens list the
# repo's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_heap():
    """Tier-1 rule: half of MemTotal in whole GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    base = build.out_dir()
    scratch = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(base, "traces")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(scratch, "result.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # the throughput collector: under G1 the same seed's op time and
           # retained heap moved by 20-50% from one JVM to the next
           f"-Xmx{driver_heap()}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={scratch}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Bench",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--scratch", scratch, "--out", result,
           "--spans-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    t0 = time.time()
    proc = None

    def stop(signum, _frame):
        # never leave the JVM behind: it dies and is reaped with us
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=scratch)
        try:
            code = proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[perfbench] JVM killed after {JVM_SECONDS} s", file=sys.stderr)
            return 3
        if code != 0 or not os.path.isfile(result):
            print(f"[perfbench] JVM exited with {code} and no result", file=sys.stderr)
            return 4
        with open(result) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for msg in r.get("failures", []):
        print(f"[perfbench] failure: {msg}", file=sys.stderr)
    print(f"[perfbench] {a.workload} seed {a.seed}: JVM {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
