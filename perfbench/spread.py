#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each end-to-end metric's
median and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]
                                [--json OUT]

Run from the root of a checkout. Each run is `perfbench/run.py` with the
BENCHMARK.json run length and its own seed; the table is markdown.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--json")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = {}
    for w in workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                                  "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not last["correct"]:
                sys.exit(f"{w} seed {seed}: run failed (code {p.returncode})")
            runs.append({k: v["value"] for k, v in last["metrics"].items()})
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()),
                  file=sys.stderr, flush=True)
        results[w] = runs
    print("| workload | metric | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|")
    for w, runs in results.items():
        for m in bounds:
            xs = [r[m] for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"| {w} | {m} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | {bounds[m]} |")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
