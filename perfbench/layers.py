"""Per-layer metrics and self time from a traced run.

Every span is attributed to one timed query call (an "exec"): jobs by the
query/exec local properties the harness set before the call, stages,
planning phases, micro-batches and stream queries by their start time
falling inside the call's wall-clock window (queries run one at a time).

Self time splits each call's wall time into disjoint parts. At every
instant the call is charged to the highest-ranked span then open:

    job     a Spark job is running (scheduling and executor work)
    plan    a QueryExecution planning phase (analysis, optimizer, physical)
    batch   a micro-batch outside its jobs and planning (offset and commit
            logs, state store commits on the driver, sink bookkeeping)
    stream  a streaming query is running between micro-batches
    build   the rest of the `queries(...)` call (the program's driver code)
    force   the rest of the noop-sink write

so the six parts sum to the call's wall time exactly.
"""
import datetime
import statistics

MB = 2 ** 20
SELF = ("job", "plan", "batch", "stream", "build", "force")
PLAN_PHASES = {"analysis": "plan.analysis_s", "optimization": "plan.optimizer_s",
               "planning": "plan.physical_s"}
STREAM_DURATIONS = {"addBatch": "stream.add_batch_s", "walCommit": "stream.wal_commit_s",
                    "commitOffsets": "stream.commit_offsets_s",
                    "latestOffset": "stream.latest_offset_s",
                    "queryPlanning": "stream.query_planning_s"}


def _m(name, unit, better):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = [
    _m("setup.session_s", "s", "lower"), _m("setup.warmup_s", "s", "lower"),
    _m("scan.read_mb", "MB", "lower"), _m("scan.records", "count", "lower"),
    _m("queries.build_s", "s", "lower"), _m("queries.build_jobs", "count", "lower"),
    _m("plan.analysis_s", "s", "lower"), _m("plan.optimizer_s", "s", "lower"),
    _m("plan.physical_s", "s", "lower"),
    _m("sched.jobs", "count", "lower"), _m("sched.stages", "count", "lower"),
    _m("sched.tasks", "count", "lower"), _m("sched.driver_gap_s", "s", "lower"),
    _m("sched.task_overhead_s", "s", "lower"),
    _m("exec.task_run_s", "s", "lower"), _m("exec.task_cpu_s", "s", "lower"),
    _m("exec.gc_s", "s", "lower"), _m("exec.core_util", "ratio", "higher"),
    _m("exec.peak_mem_mb", "MB", "lower"),
    _m("mem.heap_live_peak_mb", "MB", "lower"), _m("mem.off_heap_peak_mb", "MB", "lower"),
    _m("shuffle.write_mb", "MB", "lower"), _m("shuffle.read_mb", "MB", "lower"),
    _m("shuffle.fetch_wait_s", "s", "lower"), _m("shuffle.spill_mb", "MB", "lower"),
    _m("shuffle.skew", "ratio", "lower"),
    _m("stream.batches", "count", "lower"), _m("stream.nodata_frac", "ratio", "lower"),
    _m("stream.add_batch_s", "s", "lower"), _m("stream.wal_commit_s", "s", "lower"),
    _m("stream.commit_offsets_s", "s", "lower"), _m("stream.latest_offset_s", "s", "lower"),
    _m("stream.query_planning_s", "s", "lower"),
    _m("batch_p50_ms", "ms", "lower"), _m("batch_p90_ms", "ms", "lower"),
    _m("state.rows_peak", "count", "lower"), _m("state.mem_mb_peak", "MB", "lower"),
    _m("state.commit_s", "s", "lower"), _m("state.update_s", "s", "lower"),
    _m("state.store_instances", "count", "lower"),
] + [_m(f"self.{c}_s", "s", "lower") for c in SELF] + [
    _m("failed_frac", "ratio", "lower"), _m("trace.wall_s", "s", "lower"),
]


def _epoch_ms(iso):
    t = datetime.datetime.strptime(iso.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(t.timestamp() * 1000)


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(ex, spans):
    """{category: ms} for one call; `spans` maps category -> intervals."""
    lo, hi = ex["start_ms"], ex["end_ms"]
    cuts = {lo, hi, ex["build_ms"]}
    for ivs in spans.values():
        for a, b in ivs:
            cuts.update(x for x in (a, b) if lo < x < hi)
    cuts = sorted(cuts)
    out = dict.fromkeys(SELF, 0)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        top = next((c for c in SELF[:4] if any(x <= mid < y for x, y in spans[c])),
                   "build" if mid < ex["build_ms"] else "force")
        out[top] += b - a
    return out


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _within(t, ex):
    return ex["start_ms"] <= t <= ex["end_ms"]


def per_layer(result, trace, cores):
    """(metrics, per_query) of a traced run. Sums are per sweep (one pass
    over the workload's queries); peaks are over the whole window. The
    per-query figures are means over the query's calls."""
    execs = result["execs"]
    sweeps = result["sweeps"]
    by_exec = {ex["exec"]: ex for ex in execs}

    def owner(t):
        return next((ex["exec"] for ex in execs if _within(t, ex)), None)

    jobs = {}
    for j in trace["jobs"]:
        e = int(j["exec"]) if j.get("exec") is not None else owner(j["start"])
        if e is not None and j["end"] >= 0:
            jobs.setdefault(e, []).append(j)
    stages = {}
    for s in trace["stages"]:
        e = owner(s["submitted"]) if s["submitted"] >= 0 else None
        if e is not None:
            stages.setdefault(e, []).append(s)
    plans = {}
    for p in trace["plans"]:
        for phase, iv in p["phases"].items():
            e = owner(iv["start"])
            if e is not None:
                plans.setdefault(e, []).append((phase, iv["start"], iv["end"]))
    batches = {}
    for b in trace["progress"]:
        start = _epoch_ms(b["timestamp"])
        e = owner(start)
        if e is not None:
            batches.setdefault(e, []).append((start, b))
    streams = {}
    for s in trace["streams"]:
        start = _epoch_ms(s["start"])
        e = owner(start)
        if e is not None:
            end = s["end"] if s["end"] >= 0 else by_exec[e]["end_ms"]
            streams.setdefault(e, []).append((start, end))

    m = dict.fromkeys((x["name"] for x in PER_LAYER), 0.0)
    job_union_ms = 0
    skew = 0.0
    per_query = {}
    trigger_ms = []
    for ex in execs:
        e = ex["exec"]
        js, ss, bs = jobs.get(e, []), stages.get(e, []), batches.get(e, [])
        spans = {
            "job": [(j["start"], j["end"]) for j in js],
            "plan": [(a, b) for _, a, b in plans.get(e, [])],
            "batch": [(t, t + b["durationMs"].get("triggerExecution", 0)) for t, b in bs],
            "stream": streams.get(e, []),
        }
        st = self_times(ex, spans)
        jobs_ms = _union_ms(spans["job"], ex["start_ms"], ex["end_ms"])
        job_union_ms += jobs_ms
        m["sched.driver_gap_s"] += (ex["end_ms"] - ex["start_ms"] - jobs_ms) / 1000
        for c in SELF:
            m[f"self.{c}_s"] += st[c] / 1000
        m["queries.build_s"] += ex["build_s"]
        m["queries.build_jobs"] += sum(1 for j in js if j.get("phase") == "build")
        m["sched.jobs"] += len(js)
        for phase, a, b in plans.get(e, []):
            if phase in PLAN_PHASES:
                m[PLAN_PHASES[phase]] += (b - a) / 1000
        for s in ss:
            m["sched.stages"] += 1
            m["sched.tasks"] += s["tasks"]
            m["sched.task_overhead_s"] += s["overhead_ms"] / 1000
            m["exec.task_run_s"] += s["run_ms"] / 1000
            m["exec.task_cpu_s"] += s["cpu_ns"] / 1e9
            m["exec.gc_s"] += s["gc_ms"] / 1000
            m["exec.peak_mem_mb"] = max(m["exec.peak_mem_mb"], s["peak_mem_bytes"] / MB)
            m["scan.read_mb"] += s["input_bytes"] / MB
            m["scan.records"] += s["input_records"]
            m["shuffle.write_mb"] += s["shuffle_write_bytes"] / MB
            m["shuffle.read_mb"] += s["shuffle_read_bytes"] / MB
            m["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1000
            m["shuffle.spill_mb"] += s["spill_bytes"] / MB
            reads = s["task_read_bytes"]
            if len(reads) >= 2 and sum(reads) >= MB and statistics.median(reads) > 0:
                skew = max(skew, max(reads) / statistics.median(reads))
        rows_peak = mem_peak = 0
        for _, b in bs:
            d = b["durationMs"]
            trigger_ms.append(d.get("triggerExecution", 0))
            m["stream.batches"] += 1
            m["stream.nodata_frac"] += 1 if b["numInputRows"] == 0 else 0
            for k, name in STREAM_DURATIONS.items():
                m[name] += d.get(k, 0) / 1000
            ops = b.get("stateOperators", [])
            rows_peak = max(rows_peak, sum(o["numRowsTotal"] for o in ops))
            mem_peak = max(mem_peak, sum(o["memoryUsedBytes"] for o in ops) / MB)
            m["state.commit_s"] += sum(o["commitTimeMs"] for o in ops) / 1000
            m["state.update_s"] += sum(o["allUpdatesTimeMs"] for o in ops) / 1000
            m["state.store_instances"] += sum(o.get("numStateStoreInstances", 0) for o in ops)
        m["state.rows_peak"] = max(m["state.rows_peak"], rows_peak)
        m["state.mem_mb_peak"] = max(m["state.mem_mb_peak"], mem_peak)

        q = per_query.setdefault(ex["query"], {"calls": 0, "wall_s": [], "jobs": 0,
                                               "build_jobs": 0, "stages": 0, "tasks": 0,
                                               "batches": 0, "state_rows_peak": 0,
                                               **{f"self.{c}_s": 0.0 for c in SELF}})
        q["calls"] += 1
        q["wall_s"].append(ex["wall_s"])
        q["jobs"] += len(js)
        q["build_jobs"] += sum(1 for j in js if j.get("phase") == "build")
        q["stages"] += len(ss)
        q["tasks"] += sum(s["tasks"] for s in ss)
        q["batches"] += len(bs)
        q["state_rows_peak"] = max(q["state_rows_peak"], rows_peak)
        for c in SELF:
            q[f"self.{c}_s"] += st[c] / 1000

    batches_total = m["stream.batches"]
    m["stream.nodata_frac"] = m["stream.nodata_frac"] / batches_total if batches_total else 0.0
    m["exec.core_util"] = (m["exec.task_run_s"] * 1000 / (job_union_ms * cores)
                           if job_union_ms else 0.0)
    m["shuffle.skew"] = skew
    m["batch_p50_ms"] = percentile(trigger_ms, 50) if trigger_ms else 0.0
    m["batch_p90_ms"] = percentile(trigger_ms, 90) if trigger_ms else 0.0
    peaks = {"exec.peak_mem_mb", "state.rows_peak", "state.mem_mb_peak", "stream.nodata_frac",
             "exec.core_util", "shuffle.skew", "batch_p50_ms", "batch_p90_ms"}
    for k in m:
        if k not in peaks:
            m[k] /= sweeps
    m["setup.session_s"] = result["setup"]["session_s"]
    m["setup.warmup_s"] = result["setup"]["warmup_s"]
    m["mem.heap_live_peak_mb"] = result["heap_live_peak_bytes"] / MB
    m["mem.off_heap_peak_mb"] = result["off_heap_peak_bytes"] / MB
    for q in per_query.values():
        n = q["calls"]
        q["wall_s"] = sum(q["wall_s"])
        for k in list(q):
            if k not in ("calls", "state_rows_peak"):
                q[k] /= n
    return m, per_query
