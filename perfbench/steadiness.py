#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json on several seeds and report spreads.

    python3 perfbench/steadiness.py --runs 10 --seed0 100

For each workload and end-to-end metric this prints the median of the runs,
their quartiles (statistics.quantiles, n=4), and the spread: the distance
between the quartiles as a share of the median. A metric is steady when its
spread stays within its bound (setup_s excepted); the target is a third of
the bound. Raw values go to perfbench/results/steadiness-<seed0>-trace0.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, q1, q3, (q3 - q1) / m if m else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", nargs="*")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    raw = {w: [] for w in workloads}
    for w in workloads:
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            last = json.loads(r.stdout.strip().splitlines()[-1])
            raw[w].append({"seed": seed, "wall_s": wall, **last})
            print(f"{w} seed {seed}: {wall:.0f}s correct={last['correct']} "
                  f"failed={last['failed']}/{last['attempted']}", flush=True)

    out = os.path.join(HERE, "results", f"steadiness-{a.seed0}-trace0.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    json.dump(raw, open(out, "w"), indent=1)
    print(f"\n{'workload':12s} {'metric':36s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    for w in workloads:
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in raw[w]]
            med, q1, q3, sp = spread(vals)
            bound = m["bound"]
            flag = "ok" if sp <= bound / 3 else "WITHIN" if sp <= bound else "WIDE"
            print(f"{w:12s} {m['name']:36s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:7.3f} "
                  f"{bound:>6} {flag}")
        walls = [r["wall_s"] for r in raw[w]]
        print(f"{w:12s} {'(run wall seconds)':36s} {statistics.median(walls):12.1f} "
              f"max {max(walls):.1f}")
    print(f"raw values: {os.path.relpath(out, ROOT)}")


if __name__ == "__main__":
    main()
