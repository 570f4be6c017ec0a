#!/usr/bin/env python3
"""Steadiness check: runs each workload ten times, each run in a fresh
JVM with fresh work directories and its own seed, and prints for every
end-to-end metric the median, the quartiles, the spread (quartile distance
over the median, as `statistics.quantiles(values, n=4)` gives them) against
the metric's bound, and the max/min ratio.

    python3 perfbench/steady.py                       # 10 runs per workload
    python3 perfbench/steady.py --workloads ingest_index --seed0 200

Run from the repository root; settings come from BENCHMARK.json. Every
run's metrics line is appended to `.bench_out/steady.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    runs, seconds = 10, bench["run_seconds"]
    os.makedirs(".bench_out", exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in a.workloads:
        vals = {m: [] for m in bounds}
        shares, wall = set(), []
        for i in range(runs):
            seed = a.seed0 + i
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", wl, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                sys.exit(1)
            r = json.loads(lines[-1])
            with open(".bench_out/steady.jsonl", "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, **r}) + "\n")
            if not r["correct"]:
                print(f"{wl} seed {seed}: WRONG ANSWERS\n{p.stderr[-2000:]}")
            shares.add((r["failed"], r["attempted"]))
            for m in vals:
                vals[m].append(r["metrics"][m]["value"])
        print(f"\n{wl}: {runs} runs, seeds {a.seed0}..{a.seed0 + runs - 1}, "
              f"--seconds {seconds}, wall per run {statistics.median(wall):.0f} s "
              f"(max {max(wall):.0f}), failed/attempted {sorted(shares)}")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
              f"{'bound':>7}{'max/min':>9}")
        for m, xs in vals.items():
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            print(f"  {m:<18}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{(q3 - q1) / med:>9.3f}"
                  f"{bounds[m]:>7}{max(xs) / min(xs):>9.3f}")


if __name__ == "__main__":
    main()
