#!/usr/bin/env python3
"""Steadiness check: two sets of ten seeded runs of one workload, compared.

Set 1 runs seeds 1-10, set 2 seeds 11-20. For every end-to-end metric it
prints each set's median and quartile spread ((Q3 - Q1) / median,
quartiles as statistics.quantiles(n=4) gives them), then checks what
BENCHMARK.json promises: each spread within the metric's bound (setup_s
excepted: it is the one metric whose spread the acceptance rule leaves
out), and the second set's median no worse than the first's by more than
the bound.

    python3 perfbench/steady.py --workload curate
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def run_once(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets, ok = [], True
    for k in range(SETS):
        runs = []
        for seed in range(RUNS * k + 1, RUNS * k + RUNS + 1):
            r = run_once(a.workload, seed, bench["run_seconds"])
            ok &= r["correct"] and r["failed"] == 0
            runs.append(r)
            print(f"set {k + 1} seed {seed}: " + " ".join(
                f"{m}={r['metrics'][m]['value']:.4g}" for m in metrics), flush=True)
        sets.append({m: [r["metrics"][m]["value"] for r in runs] for m in metrics})
    for m, spec in metrics.items():
        meds = [statistics.median(s[m]) for s in sets]
        sps = [spread(s[m]) for s in sets]
        line = f"{m}: medians {meds} spreads {[round(x, 4) for x in sps]} bound {spec['bound']}"
        if m != "setup_s" and max(sps) > spec["bound"]:
            ok, line = False, line + "  SPREAD OVER BOUND"
        worse = (meds[1] - meds[0]) if spec["better"] == "lower" else (meds[0] - meds[1])
        if worse > spec["bound"] * abs(meds[0]):
            ok, line = False, line + "  SECOND SET WORSE THAN BOUND"
        print(line)
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
