#!/usr/bin/env python3
"""Repeated runs of the benchmark, summarised per workload and metric.

    python3 perfbench/baseline.py --seeds 1-10 [--workloads a,b] [--trace 0] [--out FILE]

Runs `perfbench/run.py` once per (workload, seed), sequentially, with
BENCHMARK.json's run_seconds, and reports each metric's median, first and
third quartile (Python's statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median. For end-to-end metrics the spread is compared with a
third of the metric's bound. With --out the summary is written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    summary = {"seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads.split(","):
        values, runs = {}, []
        for seed in seeds_of(args.seeds):
            t = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(args.seconds),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                runs.append({"seed": seed, "exit": p.returncode})
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"]})
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {wall:.0f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
        stats = {}
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(k)
            stats[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(v),
                        "bound": b, "steady": None if b is None else spread < b / 3}
            flag = "" if b is None else ("  ok" if spread < b / 3 else f"  WIDE (bound/3 {b / 3:.3f})")
            print(f"{w:<22}{k:<24} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}{flag}")
        summary["workloads"][w] = {"runs": runs, "metrics": stats}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
