#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload distinct_agg --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload store_lifecycle --seed 1 --seconds 10 --trace 1

Builds the engine if needed (perfbench/build.py), runs the workload in one
JVM (perfbench.Main), checks the first pass of every SparkEntry operation
against its oracle SQL in DuckDB, and prints every metric by name with its
unit. The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (the span dump path is printed above it).
Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # a run writes only under .bench_build
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
FIXTURES = ROOT / "perfbench" / "fixtures" / "sf0.1"
RESULTS = build.OUT / "results"
WORKLOADS = ("distinct_agg", "store_lifecycle", "stream_ingest")
# distinct_agg table rows: sized so one operation takes 2-5 s on local[4]
ROWS, SMALL_ROWS = 1_200_000, 200_000
# a run must end within this many seconds, not counting a first build:
# 175 for the workloads BENCHMARK.json names, whose runs must end within
# 180 s; stream_ingest is run by hand, and its traced run (three template
# builds, a warm round and a round of pairs) takes about 165 s
TIME_LIMIT_S = {"distinct_agg": 175, "store_lifecycle": 175, "stream_ingest": 300}
# time the JVM keeps after its last loop step may start: the longest step
# (a traced store operation pair), the report, and the DuckDB compare
MARGIN_S = 25
JVM_OPENS = [  # the --add-opens set build.sbt passes to forked JVMs
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def canon_fn():
    """The row canonicalisation scripts/check.py uses for the oracle compare."""
    spec = importlib.util.spec_from_file_location("check", ROOT / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_failures(dumps, dump_dir):
    """Names of dumped first-pass results that differ from DuckDB's oracle."""
    if not dumps:
        return set()
    import duckdb
    canon = canon_fn()
    con = duckdb.connect()
    for f in sorted(FIXTURES.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    bad = set()
    for name, sql in sorted(dumps.items()):
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{dump_dir / name}/*.parquet')")
            s_rows, s_cols = s.fetchall(), [d[0] for d in s.description]
            o = con.execute(sql)
            o_rows, o_cols = o.fetchall(), [d[0] for d in o.description]
            same = (sorted(s_cols) == sorted(o_cols) and len(s_rows) == len(o_rows)
                    and canon(s_rows, s_cols) == canon(o_rows, o_cols))
        except duckdb.Error as e:
            print(f"oracle {name}: {e}")
            same = False
        if not same:
            print(f"oracle {name}: MISMATCH")
            bad.add(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="smallest size: distinct_agg at %d rows" % SMALL_ROWS)
    a = ap.parse_args()
    try:
        end_to_end, per_layer = declared()
        cp = build.build()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        fail(f"cannot build: {e}", 2)
    t0 = time.monotonic()
    if not FIXTURES.is_dir():
        fail(f"missing fixtures {FIXTURES}", 2)

    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    RESULTS.mkdir(parents=True, exist_ok=True)
    out = RESULTS / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    out.unlink(missing_ok=True)
    log = RESULTS / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    limit = TIME_LIMIT_S[a.workload]
    remaining = limit - (time.monotonic() - t0)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--fixtures", str(FIXTURES), "--work", str(work), "--out", str(out),
              "--rows", str(SMALL_ROWS if a.small else ROWS),
              "--deadline-s", str(max(10.0, remaining - MARGIN_S))])
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=max(1.0, remaining - 8))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {limit} s; log: {log}")
        if rc != 0 or not out.exists():
            tail = log.read_text(errors="replace").splitlines()[-30:]
            fail(f"JVM exited {rc}; log: {log}\n" + "\n".join(tail))
        res = json.loads(out.read_text())
        if res["truncated"]:
            fail(f"the deadline cut the loop before it finished a round, so its "
                 f"figures would not hold the workload's operation mix; log: {log}")
        bad_names = oracle_failures(res["dumps"], work / "dumps")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    runs = res["warmup"] + res["ops"] + res["traced_ops"]
    failed = [r for r in runs if r["error"] or r["name"] in bad_names]
    for r in failed:
        print(f"failed {r['name']} (round {r['round']}): "
              f"{r['error'] or 'differs from the oracle'}")
    attempted = len(runs)
    p = res["probes"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"rotation_start={res['rotation_start']} rounds={res['rounds']} "
          f"warmup={len(res['warmup'])} ops={len(res['ops'])} "
          f"traced_ops={len(res['traced_ops'])}")
    print("probes (disclosure only): " + " ".join(f"{k}={v:.4f}" for k, v in p.items()))

    if a.trace:
        got, want = res["per_layer"], per_layer
        print(f"spans: {out}.spans.json")
    else:
        got, want = res["metrics"], end_to_end
    metrics = {}
    for m in want:
        name = m["name"]
        parts = name.split(".")
        if name in got:
            v = got[name]
        elif (len(parts) == 3 and parts[0] == "operators"
              and parts[1] not in res["op_names"]):
            v = {"value": 0.0, "unit": m["unit"]}  # query of another workload
        else:
            fail(f"metric {name} missing from the run")
        if v["unit"] != m["unit"]:
            fail(f"metric {name}: unit {v['unit']} != declared {m['unit']}")
        metrics[name] = v
    for name, v in got.items():
        if not isinstance(v["value"], (int, float)):
            fail(f"metric {name} is not a number: {v['value']}")
    for name, v in got.items():
        line = f"{name} = {v['value']:.6g} {v['unit']}"
        if name == "op_tail_s":
            line += f" ({res['tail']['percentile']} of {res['tail']['samples']} samples)"
        print(line)
    print(f"fail_ratio = {len(failed) / attempted:.6g} ratio "
          f"({len(failed)} of {attempted} failed)")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
