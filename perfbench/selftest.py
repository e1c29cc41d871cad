#!/usr/bin/env python3
"""The benchmark's own self-test.

    python3 perfbench/selftest.py            # all checks (~3 min)
    python3 perfbench/selftest.py --quick    # seeded-order checks only

Checks that
- the same seed gives the same query order and a different seed a different
  one, for every workload;
- a smoke run (sf0.001, 1 s window) of each gated workload prints, as its
  last line, every metric of BENCHMARK.json with its unit, for --trace 0
  (end-to-end) and --trace 1 (per-layer), with correct results;
- in a directory holding only BENCHMARK.json and perfbench/, the benchmark
  exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def check(cond, msg):
    print(f"{'ok  ' if cond else 'FAIL'} {msg}", flush=True)
    return bool(cond)


def order_checks():
    ok = True
    for w in run.WORKLOADS:
        a, b, c = run.plan(w, 7, 10), run.plan(w, 7, 10), run.plan(w, 8, 10)
        ok &= check(a == b, f"{w}: same seed, same order")
        ok &= check(a != c, f"{w}: different seed, different order")
    return ok


def last_json(stdout):
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def smoke_checks(bench):
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, group in [(0, "end_to_end"), (1, "per_layer")]:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "1", "--seconds", "1", "--scale", "0.001",
                                "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
            if not check(p.returncode == 0, f"{w} trace {trace}: smoke run exits 0"):
                print(p.stderr[-3000:])
                ok = False
                continue
            res = last_json(p.stdout)
            ok &= check(set(res) == {"correct", "attempted", "failed", "metrics"},
                        f"{w} trace {trace}: result line has exactly the four keys")
            ok &= check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                        f"{w} trace {trace}: outputs match DuckDB")
            want = {m["name"]: m["unit"] for m in bench[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            ok &= check(got == want, f"{w} trace {trace}: every {group} metric with its unit")
            ok &= check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                        f"{w} trace {trace}: every value is a number")
    return ok


def bare_dir_check():
    bare = os.path.join(ROOT, ".bench_build", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__", "project/project"))
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tpch_prepared",
                            "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                           capture_output=True, text=True, timeout=180)
        return check(p.returncode != 0 and not p.stdout.strip(),
                     "without the engine's sources: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = order_checks()
    if "--quick" not in sys.argv:
        ok &= bare_dir_check()
        ok &= smoke_checks(bench)
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
