#!/usr/bin/env python3
"""Steadiness check: run one workload k times, each with another seed, and
print each metric's median and quartiles against its bound.

Usage (from the repository root):
  python3 perfbench/steady.py --workload store_lifecycle --runs 10 --seed0 1

The spread is (q3 - q1) / median over the k values, with the quartiles of
statistics.quantiles(values, n=4). A metric is "ok" when its spread is within
its BENCHMARK.json bound and "steady" when it is within a third of it.
Exits 1 if a run fails or reports wrong results.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["end_to_end"]
    values = {m["name"]: [] for m in declared}
    bad = False
    for seed in range(a.seed0, a.seed0 + a.runs):
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {r.returncode})")
            bad = True
            continue
        res = json.loads(lines[-1])
        bad |= not res["correct"]
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(
            f"{n}={res['metrics'][n]['value']:.4g}" for n in values))
    print(f"\n{a.workload}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}")
    print(f"{'metric':40} {'unit':8} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}  verdict")
    for m in declared:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = m["bound"]
        verdict = ("steady" if spread <= bound / 3 else
                   "ok" if spread <= bound else "UNSTEADY")
        print(f"{m['name']:40} {m['unit']:8} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{spread:8.3f} {bound:>6}  {verdict}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
