#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each end-to-end
metric's median and spread (inter-quartile range over the median,
as `statistics.quantiles(values, n=4)` gives the quartiles).

    python3 perfbench/spread.py [--seeds 10] [--workload W ...] [--out FILE]

Run from the root of a graft checkout. With --out, the medians, spreads
and raw values are written as JSON (perfbench/baseline.json holds the
ones recorded for the commit that introduced the benchmark).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                  "--trace", "0"], capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed: {out.stderr[-2000:]}")
            r = json.loads(out.stdout.strip().splitlines()[-1])
            if not r["correct"]:
                sys.exit(f"{w} seed {seed}: incorrect result {r}")
            for k, m in r["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()), flush=True)
        report[w] = {}
        for k, vs in values.items():
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            report[w][k] = {"median": med, "spread": (q[2] - q[0]) / med, "values": vs}
            print(f"{w} {k}: median {med:.4g} spread {(q[2] - q[0]) / med:.3f}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
