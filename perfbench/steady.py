#!/usr/bin/env python3
"""Steadiness self-check: run one workload on several seeds and report, for
every end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload jpeg_landmarks --runs 10 --seed 100

Run from the repository root. A spread under a third of the bound is
"steady"; under the bound is "ok"; above it the metric cannot resolve a
regression of its bound's size. setup_s is reported but has no spread
requirement (it is one cold start per run). Results also go to
.bench_build/steady/<workload>-<seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; runs use seed, seed+1, ...")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    values = {m["name"]: [] for m in metrics}
    bad = 0
    for seed in range(a.seed, a.seed + a.runs):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: exit {proc.returncode}")
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if not res["correct"] or res["failed"]:
            bad += 1
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: " + (lines[-2] if len(lines) > 1 else ""), flush=True)
        print("  " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    report = {"workload": a.workload, "runs": a.runs, "first_seed": a.seed,
              "incorrect_runs": bad, "metrics": {}}
    print(f"\n{a.workload}: {a.runs} runs, {bad} incorrect")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
    for m in metrics:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = m["bound"]
        if m["name"] == "setup_s":
            verdict = "-"
        else:
            verdict = "steady" if spread < bound / 3 else "ok" if spread <= bound else "TOO WIDE"
        report["metrics"][m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                        "spread": spread, "bound": bound, "values": v}
        print(f"{m['name']:28} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{bound:>6}  {verdict}")
    os.makedirs(".bench_build/steady", exist_ok=True)
    with open(f".bench_build/steady/{a.workload}-{a.seed}.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
