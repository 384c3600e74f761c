#!/usr/bin/env python3
"""Steadiness check for the benchmark: runs every workload of BENCHMARK.json
once per seed through perfbench/run.py and reports, per end-to-end metric,
the median, the quartiles (statistics.quantiles(values, n=4)) and the spread
(q3 - q1) / median next to a third of the metric's bound. With --traced it
adds one traced run per workload (its per-layer figures).

    python3 perfbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10 --out runs.json
    python3 perfbench/steady.py --workloads crawl_epochs --seeds 1 2 3 4 5

Run from the repo root; --out keeps the raw runs and the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "error": f"exit {p.returncode}"}
    return {"seed": seed, "wall_s": wall, **json.loads(lines[-1])}


def summarize(runs, spec):
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs if "metrics" in r]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med, "bound": m["bound"], "n": len(vals)}
    return out


def main():
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()

    report = {}
    for w in a.workloads:
        runs = []
        for s in a.seeds:
            r = run_once(w, s, a.seconds, 0)
            runs.append(r)
            print(f"{w} seed {s}: {r['wall_s']:.1f} s "
                  f"{json.dumps({k: v['value'] for k, v in r.get('metrics', {}).items()})}"
                  f"{'' if r.get('correct') else ' NOT CORRECT ' + str(r.get('error', ''))}",
                  file=sys.stderr)
        report[w] = {"runs": runs, "summary": summarize(runs, spec)}
        if a.traced:
            report[w]["traced"] = run_once(w, a.seeds[0], a.seconds, 1)
        for name, m in report[w]["summary"].items():
            flag = "ok" if m["spread"] < m["bound"] / 3 else "WIDE"
            print(f"  {w:14s} {name:16s} median {m['median']:.6g} {m['unit']:6s} "
                  f"q1 {m['q1']:.6g} q3 {m['q3']:.6g} spread {m['spread']:.4f} "
                  f"(bound/3 {m['bound'] / 3:.4f}) {flag}", file=sys.stderr)
        walls = [r["wall_s"] for r in runs]
        print(f"  {w:14s} run wall median {statistics.median(walls):.1f} s max {max(walls):.1f} s",
              file=sys.stderr)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
