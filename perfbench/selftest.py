#!/usr/bin/env python3
"""Self-test of the benchmark: run every workload once at its smallest size,
untraced and traced, and assert that every metric BENCHMARK.json names
prints with its unit and that no operation failed.

Usage (from the repository root):
  python3 perfbench/selftest.py [workload ...]
"""
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402


def check(workload, trace, declared):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    problems = [] if r.returncode == 0 else [f"exit {r.returncode}: {lines[-5:]}"]
    if not problems:
        res = json.loads(lines[-1])
        printed = dict(re.findall(r"^(\S+) = \S+ (\S+)", r.stdout, re.M))
        for m in declared:
            name, unit = m["name"], m["unit"]
            got = res["metrics"].get(name)
            if got is None or got["unit"] != unit:
                problems.append(f"{name}: not in the result with unit {unit}")
            elif name in printed and printed[name] != unit:
                problems.append(f"{name}: printed with unit {printed[name]}")
            # the per-query metrics of another workload's queries read 0
            # in the result and are not printed
            elif name not in printed and not (
                    name.startswith("operators.") and name.count(".") == 2
                    and got["value"] == 0):
                problems.append(f"{name}: not printed")
        if printed.get("fail_ratio") != "ratio" or res["failed"] or not res["correct"]:
            problems.append(f"fail_ratio is not 0 ({res['failed']} of {res['attempted']})")
    print(f"{workload} trace={trace}: " + ("ok" if not problems else "FAIL"))
    for p in problems:
        print(f"  {p}")
    return not problems


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sys.argv[1:] or list(WORKLOADS)
    ok = all([check(w, t, spec["per_layer"] if t else spec["end_to_end"])
              for w in names for t in (0, 1)])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
