#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload tpch_prepared --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) and caches the build under .bench_build/;
later runs rebuild only when a source file changed. Each run then

1. draws the query order from the seed, and computes (once, then cached)
   the expected results in DuckDB (perfbench/oracle.py) over the input
   tables: graft's contract testdata, checked in under perfbench/data/;
2. starts one JVM (perfbench/src/.../Harness.scala) that sets up the engine,
   prepares and warms the queries, runs the timed closed-loop window, and
   writes each query's result once more, outside the timer;
3. checks those results against DuckDB and the row count of every timed
   execution against DuckDB's;
4. prints the metrics and, as the last line of stdout, one JSON object
   {"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
   --trace 0, per-layer metrics with --trace 1.

The full record of every run (environment stamp, per-execution timings,
failures, layer table) is written to .bench_build/perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

TPCH = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q10", "tpch_q21",
        "agg_rollup", "agg_groupjoin", "win_running_sum"]
LLM = ["dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embed_cos",
       "sim_cosine_topk", "text_quality", "ev_sessions"]

# name -> (mode, queries, clients, warm-up rounds, default scale, round_s).
# A round runs each query once (one JOB text for job_adhoc). round_s is a
# round's time once warm on a 4-core host; a run times
# round(seconds / round_s) rounds per client, a fixed amount of work that
# takes about `seconds` there. Fixed work keeps every run of a workload to
# the same executions: a window that ends at a deadline holds one round
# more or less as the host's speed drifts, and (since rounds still speed
# up slightly after warm-up) that alone moved qps by 10-20%. Warm-up rounds
# are about as many as it takes round times to level off (~3.8 s for
# tpch_prepared from the fourth round on). They never quite do: graft
# compiles new code in every execution, so the JIT keeps working and later
# rounds still run a little faster, most on llm_pipeline (12 warm-up rounds
# measured: ~2.3 s rounds from the sixth on, ~1.9 s timed).
WORKLOADS = {
    "tpch_prepared": ("prepared", TPCH, 1, 4, 0.1, 3.8),
    "llm_pipeline": ("prepared", LLM, 1, 8, 0.01, 2.0),
    "job_adhoc": ("adhoc", None, 1, None, None, 1.0),
    "dashboard_concurrent": ("prepared", TPCH, 4, 2, 0.1, 5.0),
}
JOB_WARMUP = 12  # JOB texts run in set-up; the rest stay unseen until timed

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ plan

def job_names():
    sql_dir = os.path.join(ROOT, "src", "main", "resources", "graft", "sql", "job")
    names = sorted(f[:-4] for f in os.listdir(sql_dir) if re.fullmatch(r"\d+[a-z]\.sql", f))
    return [f"job_q{n}" for n in names]


def plan(workload, seed, seconds):
    """The seeded inputs that are not table data: warm-up list and one
    timed execution schedule per client. Same seed, same plan."""
    mode, queries, clients, warm_rounds, _, round_s = WORKLOADS[workload]
    timed_rounds = max(1, int(seconds / round_s + 0.5))
    rng = random.Random(f"{workload}:{seed}")
    if mode == "adhoc":
        texts = job_names()
        rng.shuffle(texts)
        return texts[:JOB_WARMUP], [texts[JOB_WARMUP:JOB_WARMUP + timed_rounds]]
    rounds = []
    for _ in range(warm_rounds + timed_rounds):
        r = list(queries)
        rng.shuffle(r)
        rounds.append(r)
    warm = [q for r in rounds[:warm_rounds] for q in r]
    timed = [q for r in rounds[warm_rounds:] for q in r]
    # clients share one order, rotated, so the same prepared statement
    # runs on several clients at once
    return warm, [timed[c:] + timed[:c] for c in range(clients)]


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in ["src/main", "project/build.properties", "build.sbt",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java(flags):
    """The harness JVM command: flags plus the classpath the build exported."""
    with open(os.path.join(WORK, "classpath")) as fh:
        return ["java", *flags, "-cp", fh.read().strip()]


def run_child(cmd, timeout, logfile, cwd=ROOT, env=None, append=True):
    """Run a child process in its own process group; on timeout kill the
    whole group and wait for it, so no process outlives the run."""
    with open(logfile, "ab" if append else "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build(flags):
    """Compile engine and harness once per source state; dump oracle SQL."""
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    logfile = os.path.join(WORK, "build.log")
    log("building engine and harness (sbt compile)")
    t = time.time()
    out = os.path.join(WORK, "sbt.out")
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 900, out, cwd=HERE, env=env, append=False)
    if rc != 0:
        fail(f"build failed, see {out}")
    # `export` prints the classpath sbt compiled against as one bare line
    cp = [l.strip() for l in open(out) if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail(f"no classpath in {out}")
    with open(os.path.join(WORK, "classpath"), "w") as fh:
        fh.write(cp[-1])
    rc = run_child(java(flags) + ["perfbench.Harness", "--oracle-sql", WORK], 300, logfile)
    if rc != 0:
        fail(f"oracle SQL dump failed, see {logfile}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t:.1f} s")
    return stamp


# ------------------------------------------------------------------ data

def data_dir_of(scale):
    """The prepared workloads' input tables: a copy of graft's contract
    testdata (TESTDATA.md, one single-row-group parquet file per table) at
    each scale the benchmark uses. The run's --seed draws only the order."""
    d = os.path.join(HERE, "data", f"sf{scale:g}")
    if not os.path.isdir(d):
        fail(f"no data for scale {scale:g}: have " + ", ".join(sorted(os.listdir(os.path.join(HERE, "data")))))
    return d


def prepare_job(flags, stamp):
    """JOB tables are generated by the engine itself (graft.job.JobGen), once
    per build, in an untimed step."""
    marker = os.path.join(WORK, "job.stamp")
    if os.path.exists(marker) and open(marker).read() == stamp:
        return
    log("generating JOB tables (once per build)")
    rc = run_child(java(flags) + ["perfbench.Harness", "--prepare-job"], 900,
                   os.path.join(WORK, "build.log"))
    if rc != 0:
        fail("JOB table generation failed")
    with open(marker, "w") as fh:
        fh.write(stamp)


def expected_results(workload, data_dir, names):
    """DuckDB results for every query of the workload, {name: DataFrame},
    cached per (oracle SQL, data directory)."""
    import duckdb
    import pandas as pd
    import oracle
    sql = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    missing = [q for q in names if q not in sql]
    if missing:
        fail(f"no oracle SQL for {missing}")
    cache = os.path.join(WORK, "expected")
    os.makedirs(cache, exist_ok=True)
    con, out = None, {}
    for q in names:
        key = hashlib.sha256(f"{data_dir}\n{sql[q]}".encode()).hexdigest()[:20]
        p = os.path.join(cache, f"{q}_{key}.pkl")
        if not os.path.exists(p):
            if con is None:
                # JOB oracle SQL creates its tables from JobGen's closed forms
                con = duckdb.connect(os.path.join(WORK, "job_oracle.duckdb")) \
                    if WORKLOADS[workload][0] == "adhoc" else oracle.connect_data(data_dir)
            oracle.run_oracle(con, sql[q]).to_pickle(p)
        out[q] = pd.read_pickle(p)
    return out


# ------------------------------------------------------------------ run

def heap_setting():
    heap = os.environ.get("GRAFT_HEAP", "3g")
    units = {"g": 2**30, "m": 2**20, "k": 2**10}
    try:
        heap_bytes = int(float(heap[:-1]) * units[heap[-1].lower()])
    except (KeyError, ValueError):
        fail(f"GRAFT_HEAP={heap} is not a size like 3g or 2048m")
    with open("/proc/meminfo") as fh:
        total = next(int(l.split()[1]) * 1024 for l in fh if l.startswith("MemTotal:"))
    if heap_bytes > total / 2:
        fail(f"heap {heap} is more than half of this host's {total / 2**30:.1f} GB RAM")
    return heap


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, help="data scale factor (prepared workloads)")
    args = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/Engine.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the graft repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    heap = heap_setting()
    cores = len(os.sched_getaffinity(0))
    mode, _, clients, _, default_scale, _ = WORKLOADS[args.workload]
    scale = args.scale or default_scale

    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_flags = [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", *JAVA_OPENS,
                 "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
                 f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}/derby",
                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    stamp = build(jvm_flags)

    warm, schedules = plan(args.workload, args.seed, args.seconds)
    names = list(dict.fromkeys(warm + [q for s in schedules for q in s]))
    if mode == "adhoc":
        prepare_job(jvm_flags, stamp)
        data_dir, regime = os.path.join(tmp, "graft_job_data"), "scale (generator session)"
    else:
        data_dir = data_dir_of(scale)
        largest = max(os.path.getsize(os.path.join(data_dir, f))
                      for f in os.listdir(data_dir) if f.endswith(".parquet"))
        regime = "tiny" if largest <= 64 * 2**20 else "small" if largest <= 512 * 2**20 else "scale"
    t = time.time()
    expected = expected_results(args.workload, data_dir, names)
    log(f"DuckDB oracle for {len(names)} queries in {time.time() - t:.1f} s")

    run_dir = os.path.join(WORK, "run", f"{args.workload}_seed{args.seed}_trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {
        "mode": mode, "trace": args.trace, "cores": cores,
        "data": data_dir, "out": run_dir, "spark_local": os.path.join(tmp, "spark-local"),
        "warmup": ",".join(warm),
        "expected": ",".join(f"{q}:{len(df)}" for q, df in expected.items()),
    }
    for c, s in enumerate(schedules):
        spec[f"schedule.{c}"] = ",".join(s)
    spec_file = os.path.join(run_dir, "spec.txt")
    with open(spec_file, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in spec.items())

    logfile = os.path.join(run_dir, "jvm.log")
    launch_ms = time.time() * 1e3
    try:
        rc = run_child(java(jvm_flags) + ["perfbench.Harness", spec_file], args.seconds + 130, logfile,
                       cwd=run_dir)
    except subprocess.TimeoutExpired:
        fail(f"harness timed out, see {logfile}", 3)
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"harness exited with {rc}, see {logfile}", 3)
    rec = json.load(open(result_file))
    report(args, rec, launch_ms, expected, run_dir, {
        "nproc": cores, "heap": heap, "jvm_flags": jvm_flags, "spark": rec["env"]["spark"],
        "java": rec["env"]["java"], "git_sha": git_sha(), "source_stamp": stamp,
        "seed": args.seed, "workload": args.workload, "clients": clients,
        "data_dir": os.path.relpath(data_dir, ROOT), "scale": scale if mode != "adhoc" else None,
        "regime": regime, "conf": rec["env"]["conf"], "seconds": args.seconds,
        "trace": args.trace})


def report(args, rec, launch_ms, expected, run_dir, env):
    import metrics
    import oracle
    checks = {}
    for q, res in rec["checks"].items():
        if isinstance(res, str):
            checks[q] = f"ERROR {res}"
            continue
        got = oracle.read_result(os.path.join(run_dir, "results", q))
        if got is None:
            checks[q] = "EMPTY-OUTPUT" if len(expected[q]) else None
            continue
        checks[q] = oracle.compare(got, expected[q])
    execs = rec["executions"]
    failures = [{"exec": x["id"], "query": x["query"],
                 "error": x["error"] or f"ROWS: got {x['rows']} want {x['expected']}"}
                for x in execs if x["error"] is not None or x["rows"] != x["expected"]]
    failures += [{"exec": "check", "query": q, "error": e} for q, e in checks.items() if e]
    attempted = len(execs) + len(checks)
    correct = bool(execs) and not failures

    e2e, counts = metrics.end_to_end(rec, launch_ms)
    record = {"env": env, "counts": counts, "end_to_end": e2e,
              "error_rate": len(failures) / max(1, attempted), "failures": failures,
              "checks": {q: e or "OK" for q, e in checks.items()},
              "warmup_errors": [x["error"] for x in rec["warmup"] if x["error"]],
              "plans": rec["plans"]}
    print(f"workload {args.workload} seed {args.seed} ({env['regime']}, {env['nproc']} cores, "
          f"heap {env['heap']}, Spark {env['spark']}, git {env['git_sha'] or 'n/a'})")
    print(f"  timed executions {counts['executions']} ({counts['ok']} ok) over "
          f"{counts['window_s']:.1f} s, {counts['queries']} distinct queries, "
          f"{len(checks)} checked against DuckDB")
    for k, v in e2e.items():
        print(f"  {k:<22}{v:>14.4f} {metrics.E2E_UNITS[k]}")
    print(f"  {'error_rate':<22}{record['error_rate']:>14.4f} ratio")
    for f in failures[:20]:
        print(f"  FAILED {f['query']} (exec {f['exec']}): {f['error']}")

    if args.trace:
        layer, rows = metrics.layers(rec, env["nproc"])
        record["layers"] = layer
        table = metrics.layer_table(rows, rec["plans"])
        dom, share, shares = metrics.dominant_layer(rows)
        record["dominant_layer"] = {"layer": dom, "share": share, "shares": shares}
        record["coverage_min"] = min((r["coverage"] for r in rows), default=0.0)
        print(table)
        print(f"  dominant layer: {dom} ({share:.1%} of execution time); "
              f"span coverage of latency min {record['coverage_min']:.1%}")
        base = os.path.join(WORK, "results", f"{args.workload}_seed{args.seed}_trace0.json")
        if os.path.exists(base):
            untraced = json.load(open(base))["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
            print("  tracing overhead (traced - untraced): " + ", ".join(
                f"{k} {v:+.4f}" for k, v in record["tracing_overhead"].items()))
        values, unit_of = layer, metrics.LAYER_UNITS
    else:
        values, unit_of = {k: e2e[k] for k in metrics.GATED_E2E}, metrics.E2E_UNITS
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": unit_of.get(k, "")}
                                  for k, v in values.items()}}), flush=True)


if __name__ == "__main__":
    main()
