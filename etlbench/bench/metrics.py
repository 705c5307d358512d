"""Metrics from the program's records. End-to-end metrics come from an
untraced run; per-layer metrics from the traced window of a traced run.
All times in the records are epoch nanoseconds."""
from collections import defaultdict

from .stats import clip, median, self_times, tail, union_length

MS = 1e6


def _walls(records):
    return [(r["t1"] - r["t0"]) / MS for r in records]


def end_to_end(setup, passes, ops, summary):
    timed_ops = [o for o in ops if o["phase"] == "timed"]
    timed_passes = [p for p in passes if p["phase"] == "timed"]
    cold = [p for p in passes if p["phase"] == "cold"]
    op_tail, op_pct, n_ops = tail(_walls(timed_ops))
    pass_walls = _walls(timed_passes)
    return {
        "setup_s": ((setup["t1"] - setup["jvm_start"]) / 1e9, "s", 1),
        "cold_pass_ms": (_walls(cold)[0], "ms", 1),
        "pass_ms.p50": (median(pass_walls), "ms", len(pass_walls)),
        "pass_cpu_ms.p50": (median([p["cpu_ns"] / MS for p in timed_passes]), "ms", len(timed_passes)),
        "cold_pass_cpu_ms": (cold[0]["cpu_ns"] / MS, "ms", 1),
    }, {"op_ms.p50": (median(_walls(timed_ops)), "ms", n_ops), "op_ms.tail": (op_tail, "ms", n_ops, op_pct),
        "rss_peak_mb": _rss(summary)}


def _rss(summary):
    return summary["vmhwm_kb"] / 1024.0, "MB", 1


def per_op_scheduler(ops, jobs):
    """Scheduler counters per operation. A job belongs to the operation
    whose job group it carries; a job without one (launched from a
    thread that did not inherit the group) belongs to the operation whose
    interval contains its start. Driver time is the operation's wall
    minus the union of its jobs' intervals."""
    by_group = {f"op{o['i']}": o for o in ops}
    per = {o["i"]: defaultdict(float) for o in ops}
    intervals = defaultdict(list)
    for j in jobs:
        o = by_group.get(j["group"])
        if o is None:
            o = next((x for x in ops if x["t0"] <= j["t0"] <= x["t1"]), None)
        if o is None:
            continue
        c = per[o["i"]]
        c["jobs"] += 1
        c["stages"] += j["stages"]
        c["tasks"] += j["tasks"]
        c["cpu_ms"] += j["cpu_ns"] / MS
        c["run_ms"] += j["run_ms"]
        c["gc_ms"] += j["gc_ms"]
        c["shuffle_bytes"] += j["shuffle_write"]
        c["spill_bytes"] += j["spill"]
        c["input_rows"] += j["input_rows"]
        c["bytes_written"] += j["output_bytes"]
        intervals[o["i"]].append((j["t0"], j["t1"] if j["t1"] > 0 else o["t1"]))
    for o in ops:
        wall = o["t1"] - o["t0"]
        busy = union_length(clip(intervals[o["i"]], o["t0"], o["t1"]))
        per[o["i"]]["wall_ms"] = wall / MS
        per[o["i"]]["driver_ms"] = (wall - busy) / MS
    return per


def per_op_plans(ops, plans):
    per = {o["i"]: defaultdict(float) for o in ops}
    for p in plans:
        o = next((x for x in ops if x["t0"] - MS <= p["t0"] <= x["t1"]), None)
        if o is None:
            continue
        for k in ("analysis_ms", "optimizer_ms", "planning_ms"):
            per[o["i"]][k] += p[k]
    return per


SCHED_KEYS = ["jobs", "stages", "tasks", "driver_ms", "cpu_ms", "run_ms", "gc_ms",
              "shuffle_bytes", "spill_bytes", "input_rows"]
PLAN_KEYS = ["analysis_ms", "optimizer_ms", "planning_ms"]
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "input_rows": "rows", "bytes_written": "bytes"}


def _unit(key):
    return UNITS.get(key, "ms")


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(setup, passes, ops, spans, jobs, plans, summary):
    traced = [o for o in ops if o["phase"] == "traced"]
    untraced = [o for o in ops if o["phase"] == "untraced"]
    sched = per_op_scheduler(traced, jobs)
    plan = per_op_plans(traced, plans)
    m = {"session.build_ms": ((setup["session_end"] - setup["t0"]) / MS, "ms", 1)}
    for k in SCHED_KEYS:
        m[f"sched.{k}"] = (_mean(sched[o["i"]][k] for o in traced), _unit(k), len(traced))
    for k in PLAN_KEYS:
        m[f"plans.{k}"] = (_mean(plan[o["i"]][k] for o in traced), "ms", len(traced))
    m["runenv.storage_peak_bytes"] = (float(summary["storage_peak_bytes"]), "bytes", 1)
    m["rss_peak_mb"] = _rss(summary)
    # the traced window is covered by top-level spans when the harness
    # spends no time outside operations
    top = [s for s in spans if s["parent"] == 0]
    tpasses = [(p["t0"], p["t1"]) for p in passes if p["phase"] == "traced"]
    m["trace.span_coverage"] = (union_length((s["t0"], s["t1"]) for s in top) / union_length(tpasses),
                                "ratio", len(top))
    t50, u50 = median(_walls(traced)), median(_walls(untraced))
    m["trace.op_ms.p50"] = (t50, "ms", len(traced))
    m["trace.untraced_op_ms.p50"] = (u50, "ms", len(untraced))
    m["trace.overhead_pct"] = (100.0 * (t50 / u50 - 1.0), "%", len(traced))
    return m


def breakdown(ops, spans, jobs, plans):
    """The workload-specific per-layer table: for each operation name
    (a query, a lakehouse statement kind, a CAIC run) the median wall
    time and mean scheduler and planning counters over its traced
    operations, plus the self time of every span name."""
    traced = [o for o in ops if o["phase"] == "traced"]
    sched = per_op_scheduler(traced, jobs)
    plan = per_op_plans(traced, plans)
    groups = defaultdict(list)
    for o in traced:
        groups[o["name"] if o["kind"] == "query" else o["kind"]].append(o["i"])
    table = {}
    for g, ids in sorted(groups.items()):
        row = {"n": len(ids), "wall_ms.p50": median([sched[i]["wall_ms"] for i in ids])}
        for k in SCHED_KEYS + ["bytes_written"]:
            row[k] = _mean(sched[i][k] for i in ids)
        for k in PLAN_KEYS:
            row[k] = _mean(plan[i][k] for i in ids)
        table[g] = row
    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(selfs[s["id"]] / MS)
    span_table = {n: {"n": len(v), "self_ms.total": sum(v), "self_ms.p50": median(v)} for n, v in sorted(by_name.items())}
    return {"by_operation": table, "spans": span_table}
