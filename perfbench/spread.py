#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each named workload and prints, per
metric, the median of the runs and the distance between the first and third
quartile as a share of the median (statistics.quantiles(values, n=4)), next
to the metric's bound from BENCHMARK.json. Also prints each run's wall time.

Usage (from the repository root):
  python3 perfbench/spread.py [--seeds 1-10] [--trace 0|1] workload [workload ...]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in a.workloads:
        runs, walls = [], []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(["python3", "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
                               capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-3000:]}")
            r = json.loads(p.stdout.strip().split("\n")[-1])
            runs.append(r)
            print(f"{w} seed {s}: {walls[-1]:.1f} s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}", flush=True)
        print(f"\n{w}: {len(runs)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(name)
            flag = "" if b is None else ("  ok" if spread < b / 3 else
                                         ("  within bound" if spread <= b else "  OVER BOUND"))
            print(f"  {name:28s} median {med:12.4f}  spread {spread:7.4f}  bound {b}{flag}")
        print(flush=True)


if __name__ == "__main__":
    main()
