"""The benchmark's metric math, kept free of Spark so its tests run in
plain Python: percentiles with failed ops as +inf, span self time, charging
jobs to spans, and the end-to-end and per-layer roll-ups of one run's
``result.json``."""
import math
import statistics

INF = float("inf")
EXEC_SPANS = ("exec", "scdengine.merge")

CORES = 4  # local[4]

# Every per-layer metric of a traced run, with its unit.
LAYER_UNITS = {
    "op.count": "count", "op.s": "s", "op.self_s": "s",
    "construct.s": "s", "construct.jobs": "count", "construct.share": "ratio",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.core_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    "sources.input_bytes": "bytes", "sources.input_rows": "rows",
    "jobs.total": "count", "jobs.per_op": "ratio",
    "materialize.rdds_persisted": "count", "materialize.held_bytes": "bytes",
    "resultcache.entries_written": "count", "resultcache.reads": "count",
    "scdengine.bytes_written": "bytes", "scdengine.batch_bytes": "bytes",
    "scdengine.write_amp": "ratio", "scdengine.table_bytes": "bytes",
    "jvm.gc_s": "s", "jvm.retained_heap_mb": "MB",
    "e2e.op_s_p50": "s", "e2e.ops_per_s": "1/s",
}

# Every ratio metric and the base metrics reported next to it.
RATIOS = {
    "construct.share": ("construct.s", "op.s"),
    "exec.core_util": ("exec.task_s", "exec.core_s"),
    "scdengine.write_amp": ("scdengine.bytes_written", "scdengine.batch_bytes"),
    "jobs.per_op": ("jobs.total", "op.count"),
}


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of ``values``, where a
    failed op is ``None`` and counts as +inf. Any interpolation that touches
    +inf is +inf, so a failed op can never make a latency look better."""
    xs = sorted(INF if v is None else float(v) for v in values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    if math.isinf(xs[hi]):
        return INF
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ratio(num, base):
    """``num / base``, 0 when there is no base."""
    return num / base if base else 0.0


def with_ratios(m):
    """Add every RATIOS entry whose numerator and base are both present."""
    out = dict(m)
    for name, (num, base) in RATIOS.items():
        if num in m and base in m:
            out[name] = ratio(m[num], m[base])
    return out


def _covered(intervals):
    total, end = 0.0, -INF
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """span id -> duration minus the union of what its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    return {s["id"]: (s["end_s"] - s["start_s"]) - _covered(kids.get(s["id"], []))
            for s in spans}


def charge_jobs(spans, jobs):
    """span id -> jobs charged to it. A job carries the id of the innermost
    span open on the submitting thread; a job without one is charged to the
    innermost span open at its start time (latest start wins)."""
    by_id = {s["id"]: s for s in spans}
    out = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = j.get("span", -1)
        if sid not in by_id:
            open_ = [s for s in spans if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
            if not open_:
                continue
            sid = max(open_, key=lambda s: (s["start_ms"], s["id"]))["id"]
        out[sid].append(j)
    return out


def end_to_end(res, gen_s):
    """The end-to-end metrics of one run, and for the summary line the input
    rows per second, the op latency percentiles, sample counts and the
    failed ratio.

    ``setup_s`` is input generation + JVM/session start + the median of the
    run's set-up repetitions + the warm-up: the time to the first timed op
    of a process that sets up once. The measured interval of the run
    itself, which pays every repetition, is ``setup_wall_s`` in run.py's
    summary line."""
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    rows_by_op = {}
    for j in res["jobs"]:
        rows_by_op[j["op"]] = rows_by_op.get(j["op"], 0) + j["input_rows"]
    rows = sum(o["rows"] if o["rows"] >= 0 else rows_by_op.get(i, 0)
               for i, o in enumerate(ops) if o["ok"])
    lat = [o["s"] if o["ok"] else None for o in ops]
    w = res["window_s"]
    metrics = {
        "setup_s": gen_s + res["session_s"] + statistics.median(res["setup_reps_s"])
                   + res["warmup_s"],
        "ops_per_s": len(ok) / w,
    }
    aux = {"rows_per_s": rows / w,
           "op_s_p50": percentile(lat, 50), "op_s_p75": percentile(lat, 75),
           "failed_ratio": ratio(len(ops) - len(ok), len(ops)),
           "attempted": len(ops), "window_s": w,
           "n": {"setup_s": len(res["setup_reps_s"]), "op_s": len(ops),
                 "ops_per_s": len(ok), "rows_per_s": rows}}
    return metrics, aux


def per_layer(res):
    """Per-layer metrics of a traced run (totals over the timed window)."""
    spans, jobs, ops = res["spans"], res["jobs"], res["ops"]
    charged = charge_jobs(spans, jobs)
    selfs = self_times(spans)
    m = {k: 0.0 for k in (
        "op.s", "op.self_s", "construct.s", "construct.jobs",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
        "exec.peak_exec_mem_bytes", "sources.input_bytes", "sources.input_rows",
        "jobs.total", "scdengine.bytes_written")}
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        js = charged[s["id"]]
        if s["name"] == "op":
            m["op.s"] += dur
            m["op.self_s"] += selfs[s["id"]]
        elif s["name"] == "construct":
            m["construct.s"] += dur
            m["construct.jobs"] += len(js)
        elif s["name"] in EXEC_SPANS:
            m["exec.s"] += dur
            m["exec.jobs"] += len(js)
            for j in js:
                m["exec.stages"] += j["stages"]
                m["exec.tasks"] += j["tasks"]
                m["exec.task_s"] += j["task_s"]
                m["exec.shuffle_read_bytes"] += j["shuffle_read_bytes"]
                m["exec.shuffle_write_bytes"] += j["shuffle_write_bytes"]
                m["exec.spill_bytes"] += j["spill_bytes"]
                m["exec.peak_exec_mem_bytes"] = max(m["exec.peak_exec_mem_bytes"],
                                                    j["peak_exec_mem_bytes"])
            if s["name"] == "scdengine.merge":
                m["scdengine.bytes_written"] += sum(j["output_bytes"] for j in js)
        if s["op"] >= 0:
            m["jobs.total"] += len(js)
            m["sources.input_bytes"] += sum(j["input_bytes"] for j in js)
            m["sources.input_rows"] += sum(j["input_rows"] for j in js)
    for o in ops:
        for phase, ms in o.get("catalyst_ms", {}).items():
            if f"catalyst.{phase}_ms" in m:
                m[f"catalyst.{phase}_ms"] += ms
    m["op.count"] = len(ops)
    m["exec.core_s"] = m["exec.s"] * CORES
    m["materialize.rdds_persisted"] = sum(o.get("rdds_persisted", 0) for o in ops)
    m["materialize.held_bytes"] = sum(o.get("held_bytes", 0) for o in ops)
    m["resultcache.entries_written"] = sum(o.get("cache_entries_written", 0) for o in ops)
    m["resultcache.reads"] = sum(1 for o in ops if o.get("cache_read"))
    m["scdengine.batch_bytes"] = sum(o.get("batch_bytes", 0) for o in ops)
    m["scdengine.table_bytes"] = ops[-1].get("table_bytes", 0) if ops else 0
    m["jvm.gc_s"] = res["gc_s"]
    m["jvm.retained_heap_mb"] = res["retained_heap_mb"]
    return with_ratios(m)


def quartile_spread(values):
    """(q3 - q1) / median, the steadiness measure of a metric over runs."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
