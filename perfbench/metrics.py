"""Turns one harness record (result.json) into the benchmark's metrics.

End-to-end metrics come from the timed window alone. Per-layer metrics come
from the traced run's spans (the harness's wrappers around each call into
graft) joined with the listener's job and stage records. Time and count
metrics are means per timed execution unless a docstring says otherwise.
"""
import math
import statistics

E2E_UNITS = {"setup_s": "s", "qps": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
             "latency_geomean_ms": "ms", "cpu_s_per_query": "s", "heap_live_mb": "MB"}

# End-to-end metrics in the result line (BENCHMARK.json's end_to_end). The
# latency percentiles are printed and recorded but not gated: a window holds
# 20-60 executions of 7-10 queries whose latencies form clusters, so p50 and
# p90 jump between clusters from run to run (IQR/median 0.17-0.53 measured).
GATED_E2E = ["setup_s", "qps", "latency_geomean_ms", "cpu_s_per_query", "heap_live_mb"]

LAYER_UNITS = {
    "engine.create_s": "s", "construct.build_ms": "ms", "plan.optimize_ms": "ms",
    "plan.physical_ms": "ms", "plan.exchanges": "count", "plan.broadcasts": "count",
    "plan.joins": "count", "plan.wscg_stages": "count", "codegen.compiles": "count",
    "codegen.compile_ms": "ms", "prepared.front_ms": "ms", "prepared.rdd_reuse": "ratio",
    "rebroadcast.jobs": "count", "rebroadcast.job_ms": "ms", "tables.scan_mb": "MB",
    "tables.scan_rows": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.task_gc_s": "s", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.task_failures": "count", "exec.stage_retries": "count",
    "exec.drain_ms": "ms", "exec.driver_gap_ms": "ms", "exec.core_util": "ratio",
    "jvm.gc_s": "s", "jvm.jit_ms": "ms", "proc.cpu_s": "s", "proc.non_task_cpu_s": "s",
}


def _pct(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def end_to_end(rec, launch_ms):
    """Every end-to-end metric, plus the sample counts behind them.

    `qps` is the window's correct completions, by all clients, per second
    of the window, which runs whole rounds. `cpu_s_per_query`
    divides the whole window's process CPU, JIT compiler threads included,
    by its correct completions."""
    execs = rec["executions"]
    w = rec["window"]
    wall_s = (w["end_ms"] - w["start_ms"]) / 1e3
    ok = [x for x in execs if x["error"] is None and x["rows"] == x["expected"]]
    lat = [x["end_ms"] - x["start_ms"] for x in ok]
    by_query = {}
    for x in ok:
        by_query.setdefault(x["query"], []).append(x["end_ms"] - x["start_ms"])
    medians = [statistics.median(v) for v in by_query.values()]
    nan = float("nan")
    return {
        "setup_s": (rec["setup_end_ms"] - launch_ms) / 1e3,
        "qps": len(ok) / wall_s,
        "latency_p50_ms": _pct(lat, 50) if lat else nan,
        "latency_p90_ms": _pct(lat, 90) if lat else nan,
        "latency_geomean_ms": math.exp(sum(map(math.log, medians)) / len(medians))
        if medians else nan,
        "cpu_s_per_query": w["cpu_s"] / len(ok) if ok else nan,
        "heap_live_mb": w["heap_live_mb"],
    }, {"executions": len(execs), "ok": len(ok), "queries": len(by_query), "window_s": wall_s}


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layers(rec, cores):
    """Per-layer metrics for the workload, and a per-query layer table.

    Jobs are attributed to the timed execution whose client tagged them
    (Spark local property) when they started inside it, or else to the
    execution running when they started. Jobs started inside
    `Prepared.freshRdd` are broadcast rebuilds.
    """
    execs = {x["id"]: x for x in rec["executions"]}
    by_exec = {}
    for s in rec["spans"]:
        by_exec.setdefault(s["exec"], []).append(s)
    stages = rec["stages"]
    stage_by_id = {}
    for s in stages:
        stage_by_id.setdefault(s["stage"], []).append(s)

    def owner(job):
        tag, start = job["exec"], job["start_ms"]
        # a tag is trusted only inside its execution's interval: pool
        # threads (broadcast rebuilds) inherit the tag of whichever
        # execution created them
        x = execs.get(tag)
        if x is not None and x["start_ms"] <= start <= x["end_ms"]:
            return tag
        for x in execs.values():
            if x["start_ms"] <= start <= x["end_ms"]:
                return x["id"]
        return None

    jobs_of = {}
    for j in rec["jobs"]:
        o = owner(j)
        if o is not None:
            jobs_of.setdefault(o, []).append(j)

    rows = []
    for xid, x in execs.items():
        sp = by_exec.get(xid, [])
        dur = {}
        for s in sp:
            if s["name"] != "execution":
                dur[s["name"]] = dur.get(s["name"], 0.0) + s["end_ms"] - s["start_ms"]
        fronts = [(s["start_ms"], s["end_ms"]) for s in sp if s["name"] == "prepared.front"]
        drains = [(s["start_ms"], s["end_ms"]) for s in sp if s["name"] == "exec.drain"]
        js = jobs_of.get(xid, [])
        reb = [j for j in js if any(a <= j["start_ms"] <= b for a, b in fronts)]
        st = [s for j in js for sid in j["stage_ids"]
              for s in stage_by_id.get(sid, []) if s["submit_ms"] >= 0]
        stage_iv = [(s["submit_ms"], s["complete_ms"]) for s in st if s["complete_ms"] >= 0]
        drain_ms = sum(b - a for a, b in drains)
        covered = sum(_union_ms(stage_iv, a, b) for a, b in drains)
        lat = x["end_ms"] - x["start_ms"]
        rows.append({
            "exec": xid, "query": x["query"], "latency_ms": lat,
            "construct_ms": dur.get("construct.build", 0.0),
            "optimize_ms": dur.get("plan.optimize", 0.0),
            "physical_ms": dur.get("plan.physical", 0.0),
            "front_ms": dur.get("prepared.front", 0.0),
            "drain_ms": drain_ms,
            "driver_gap_ms": drain_ms - covered,
            "rebroadcast_jobs": len(reb),
            "rebroadcast_job_ms": sum(max(0, j["end_ms"] - j["start_ms"]) for j in reb),
            "jobs": len(js), "stages": len(st), "tasks": sum(s["tasks"] for s in st),
            "task_run_s": sum(s["run_ms"] for s in st) / 1e3,
            "task_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "task_gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "shuffle_write_mb": sum(s["shuffle_write"] for s in st) / 2**20,
            "shuffle_read_mb": sum(s["shuffle_read"] for s in st) / 2**20,
            "spill_mb": sum(s["spill"] for s in st) / 2**20,
            "scan_mb": sum(s["in_bytes"] for s in st) / 2**20,
            "scan_rows": sum(s["in_rows"] for s in st),
            "coverage": sum(dur.values()) / lat if lat > 0 else 0.0,
            # self time of the execution span: latency its children miss
            "self_ms": lat - sum(dur.values()),
            "compiles": x["compiles"], "compile_ms": x["compile_ms"],
            "rdd_reused": x["rdd_reused"],
        })

    n = max(1, len(rows))

    def mean(k):
        return sum(r[k] for r in rows) / n

    setup = by_exec.get(-1, [])

    def setup_mean(name):
        d = [s["end_ms"] - s["start_ms"] for s in setup if s["name"] == name]
        return sum(d) / len(d) if d else 0.0

    adhoc = any(r["construct_ms"] > 0 for r in rows)
    plans = list(rec["plans"].values())
    w = rec["window"]
    wall_s = (w["end_ms"] - w["start_ms"]) / 1e3
    task_run = sum(r["task_run_s"] for r in rows)
    task_cpu = sum(r["task_cpu_s"] for r in rows)
    in_window = [s for s in stages if w["start_ms"] <= s["submit_ms"] <= w["end_ms"]]
    create = [s["end_ms"] - s["start_ms"] for s in setup if s["name"] == "engine.create"]
    out = {
        "engine.create_s": create[0] / 1e3 if create else 0.0,
        "construct.build_ms": mean("construct_ms") if adhoc else setup_mean("construct.build"),
        "plan.optimize_ms": mean("optimize_ms") if adhoc else setup_mean("plan.optimize"),
        "plan.physical_ms": mean("physical_ms") if adhoc else setup_mean("plan.physical"),
        "codegen.compiles": mean("compiles"),
        "codegen.compile_ms": mean("compile_ms"),
        "prepared.front_ms": mean("front_ms"),
        "prepared.rdd_reuse": sum(1 for r in rows if r["rdd_reused"]) / n,
        "rebroadcast.jobs": mean("rebroadcast_jobs"),
        "rebroadcast.job_ms": mean("rebroadcast_job_ms"),
        "tables.scan_mb": mean("scan_mb"),
        "tables.scan_rows": mean("scan_rows"),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.task_run_s": mean("task_run_s"),
        "exec.task_cpu_s": mean("task_cpu_s"),
        "exec.task_gc_s": mean("task_gc_s"),
        "exec.shuffle_write_mb": mean("shuffle_write_mb"),
        "exec.shuffle_read_mb": mean("shuffle_read_mb"),
        "exec.spill_mb": mean("spill_mb"),
        "exec.task_failures": sum(s["failed_tasks"] for s in in_window),
        "exec.stage_retries": sum(1 for s in in_window if s["attempt"] > 0),
        "exec.drain_ms": mean("drain_ms"),
        "exec.driver_gap_ms": mean("driver_gap_ms"),
        "exec.core_util": task_run / (wall_s * cores) if wall_s > 0 else 0.0,
        "jvm.gc_s": w["gc_s"] / n,
        "jvm.jit_ms": w["jit_ms"] / n,
        "proc.cpu_s": w["cpu_s"] / n,
        "proc.non_task_cpu_s": (w["cpu_s"] - task_cpu) / n,
    }
    for k in ["exchanges", "broadcasts", "joins", "wscg_stages"]:
        out[f"plan.{k}"] = sum(p.get(k, 0) for p in plans) / max(1, len(plans))
    return out, rows


LAYER_COLUMNS = ["construct_ms", "optimize_ms", "physical_ms", "front_ms",
                 "rebroadcast_job_ms", "drain_ms", "driver_gap_ms"]


def layer_table(rows, plans):
    """Per-query medians of each layer, as aligned text. Self times: the
    driver gap is the drain's time outside running stages, `self_ms` the
    execution's time outside its child spans."""
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query"], []).append(r)
    cols = ["latency_ms"] + LAYER_COLUMNS + ["self_ms", "stages", "tasks", "task_cpu_s",
                                             "shuffle_write_mb", "coverage"]
    width = {c: max(len(c), 7) + 1 for c in cols}
    head = f"{'query':<22}{'n':>4}" + "".join(f"{c:>{width[c]}}" for c in cols) + \
        f"{'exch/bcast/join/wscg':>22}"
    lines = [head]
    for q in sorted(by_q):
        rs = by_q[q]
        p = plans.get(q, {})
        shape = "/".join(str(p.get(k, "-")) for k in
                         ["exchanges", "broadcasts", "joins", "wscg_stages"])
        lines.append(f"{q:<22}{len(rs):>4}" + "".join(
            f"{statistics.median(r[c] for r in rs):>{width[c]}.2f}" for c in cols) + f"{shape:>22}")
    return "\n".join(lines)


def dominant_layer(rows):
    """The layer with the largest share of summed execution time. The
    front half splits into broadcast rebuild jobs and the rest; the drain
    into time covered by running stages and driver gaps."""
    tot = {"construct": 0.0, "optimize": 0.0, "physical": 0.0, "front (non-rebuild)": 0.0,
           "rebroadcast": 0.0, "stages": 0.0, "driver gap": 0.0}
    for r in rows:
        tot["construct"] += r["construct_ms"]
        tot["optimize"] += r["optimize_ms"]
        tot["physical"] += r["physical_ms"]
        tot["rebroadcast"] += min(r["rebroadcast_job_ms"], r["front_ms"])
        tot["front (non-rebuild)"] += max(0.0, r["front_ms"] - r["rebroadcast_job_ms"])
        tot["stages"] += r["drain_ms"] - r["driver_gap_ms"]
        tot["driver gap"] += r["driver_gap_ms"]
    total = sum(tot.values()) or 1.0
    name = max(tot, key=tot.get)
    return name, tot[name] / total, {k: v / total for k, v in tot.items()}
