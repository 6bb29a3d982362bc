"""Per-layer metrics of a traced run, derived from the raw records the
harness and its listeners write. Every function returns a dict of metric
name -> value; `PER_LAYER` lists every name with its unit."""
from stats import clip, percentile, self_times, union_length

PER_LAYER = [
    ("queries.wall_s", "s"), ("queries.build_s", "s"), ("queries.build_self_s", "s"),
    ("queries.build_jobs", "count"),
    ("spark.scheduler.jobs", "count"), ("spark.scheduler.stages", "count"),
    ("spark.scheduler.tasks", "count"), ("spark.scheduler.driver_only_s", "s"),
    ("spark.scheduler.job_self_s", "s"),
    ("spark.planning.analysis_s", "s"), ("spark.planning.optimization_s", "s"),
    ("spark.planning.physical_s", "s"),
    ("operators.run_s", "s"), ("operators.cpu_s", "s"), ("operators.gc_s", "s"),
    ("operators.busy_ratio", "ratio"), ("operators.result_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_bytes", "bytes"),
    ("sources.input_bytes", "bytes"), ("sources.input_rows", "count"),
    ("state.update_ms", "ms"), ("state.commit_ms", "ms"), ("state.rows_total", "count"),
    ("state.rows_updated", "count"), ("state.memory_bytes", "bytes"),
    ("state.dropped_by_watermark", "count"),
    ("streaming.add_batch_ms", "ms"), ("streaming.batches", "count"),
    ("streaming.batch_p50_ms", "ms"), ("streaming.batch_p99_ms", "ms"),
    ("streaming.batch_self_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("serve.accepted", "count"), ("serve.rejected", "count"),
    ("serve.feeder_backlog_max", "count"), ("serve.feeder_dropped", "count"),
    ("serve.sse_segment_frames", "count"),
    ("serve.processed", "count"), ("serve.watermark_lag_ms", "ms"),
    ("serve.emit_p99_ms", "ms"), ("serve.post_p50_ms", "ms"), ("serve.post_p99_ms", "ms"),
    ("loadgen.late_p99_ms", "ms"), ("loadgen.connections", "count"),
    ("loadgen.threads", "count"), ("loadgen.fell_behind", "count"),
    ("trace.overhead_pct", "%"), ("trace.accounting_violations", "count"),
]

# a job labelled with a query must lie inside that query's wall time,
# with this much slack in milliseconds
ACCOUNTING_MS = 5.0


def batch(samples, trace, cores):
    """Layers of a traced batch run. `samples` are the traced timed
    passes; jobs and stages are tied to them by their span label
    `<query>#<pass>/<build|execute>`."""
    ok = [s for s in samples if "error" not in s]
    windows = {f"{s['query']}#{s['pass']}": (s["start_ms"], s["end_ms"]) for s in ok}

    def owner(span):
        return span.rsplit("/", 1)[0]
    jobs = [j for j in trace["jobs"] if owner(j["span"]) in windows]
    stages = [s for s in trace["stages"] if owner(s["span"]) in windows]
    # trace accounting: work that starts while a query runs but does not
    # carry that query's label is work the spans do not capture
    violations = sum(1 for r in trace["jobs"] + trace["stages"]
                     for key, (a, b) in windows.items()
                     if a <= r["start_ms"] <= b and owner(r["span"]) != key)
    m = {"queries.wall_s": sum(s["wall_s"] for s in ok),
         "queries.build_s": sum(s["build_s"] for s in ok)}
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)
    spans = {}
    driver_only = 0.0
    per_query = {}
    for s in ok:
        key = f"{s['query']}#{s['pass']}"
        q = ("query", key)
        spans[q] = (None, s["start_ms"], s["end_ms"])
        spans[("build", key)] = (q, s["start_ms"], s["built_ms"])
        spans[("execute", key)] = (q, s["built_ms"], s["end_ms"])
        intervals = []
        for part in ("build", "execute"):
            for j in jobs_of.get(f"{key}/{part}", []):
                spans[("job", j["id"])] = ((part, key), j["start_ms"], j["end_ms"])
                intervals.append((j["start_ms"], j["end_ms"]))
                if j["start_ms"] < s["start_ms"] - ACCOUNTING_MS or \
                        j["end_ms"] > s["end_ms"] + ACCOUNTING_MS:
                    violations += 1
        busy = union_length(clip(intervals, s["start_ms"], s["end_ms"]))
        driver_only += max(0.0, s["end_ms"] - s["start_ms"] - busy) / 1000.0
        pq = per_query.setdefault(s["query"], {"wall_s": [], "jobs": 0})
        pq["wall_s"].append(s["wall_s"])
        pq["jobs"] += len(jobs_of.get(f"{key}/build", [])) + len(jobs_of.get(f"{key}/execute", []))
    job_ids = {j["id"] for j in jobs}
    for st in stages:
        parent = next((("job", j["id"]) for j in jobs if st["id"] in j["stages"]), None)
        if parent in spans and st["start_ms"] >= 0 and st["end_ms"] >= 0:
            spans[("stage", st["id"], st["attempt"])] = (parent, st["start_ms"], st["end_ms"])
    selfs = self_times(spans)

    def self_sum(kind):
        return sum(v for k, v in selfs.items() if k[0] == kind) / 1000.0

    m["queries.build_self_s"] = self_sum("build")
    m["queries.build_jobs"] = sum(1 for j in jobs if j["span"].endswith("/build"))
    m["spark.scheduler.jobs"] = len(job_ids)
    m["spark.scheduler.stages"] = len(stages)
    m["spark.scheduler.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.scheduler.driver_only_s"] = driver_only
    m["spark.scheduler.job_self_s"] = self_sum("job")
    plans = [p for p in trace["plans"]
             if any(a <= p["start_ms"] <= b for a, b in windows.values())]
    m["spark.planning.analysis_s"] = sum(p["analysis_ms"] for p in plans) / 1000.0
    m["spark.planning.optimization_s"] = sum(p["optimization_ms"] for p in plans) / 1000.0
    m["spark.planning.physical_s"] = sum(p["planning_ms"] for p in plans) / 1000.0
    m.update(_stage_sums(stages))
    wall = m["queries.wall_s"]
    m["operators.busy_ratio"] = m["operators.run_s"] / (wall * cores) if wall else 0.0
    m["trace.accounting_violations"] = violations
    detail = {"per_query": {q: {"wall_s_median": percentile(v["wall_s"], 50),
                                "jobs": v["jobs"]} for q, v in per_query.items()},
              "self_time_s": {k: self_sum(k) for k in
                              ("query", "build", "execute", "job", "stage")}}
    return m, detail


def _stage_sums(stages):
    return {
        "operators.run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "operators.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "operators.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "operators.result_bytes": sum(s["result_bytes"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1000.0,
        "shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "sources.input_bytes": sum(s["input_bytes"] for s in stages),
        "sources.input_rows": sum(s["input_rows"] for s in stages),
    }


def streaming(trace, query_prefixes):
    """Layers of the micro-batches of the queries whose names start with
    one of `query_prefixes` (progress reports with input rows only)."""
    progs = [p for p in trace["progress"]
             if any((p.get("name") or "").startswith(q) for q in query_prefixes)
             and p.get("numInputRows", 0) > 0]
    d = [p.get("durationMs", {}) for p in progs]
    trig = [x.get("triggerExecution", 0) for x in d]
    ops = [o for p in progs for o in p.get("stateOperators", [])]
    last = {}
    for p in progs:  # the newest report of each query holds its state size
        last[p.get("name")] = p
    last_ops = [o for p in last.values() for o in p.get("stateOperators", [])]
    m = {
        "streaming.batches": len(progs),
        "streaming.batch_p50_ms": percentile(trig, 50) or 0,
        "streaming.batch_p99_ms": percentile(trig, 99) or 0,
        "streaming.batch_self_ms": sum(
            x.get("triggerExecution", 0) - sum(v for k, v in x.items() if k != "triggerExecution")
            for x in d),
        "streaming.add_batch_ms": sum(x.get("addBatch", 0) for x in d),
        "streaming.query_planning_ms": sum(x.get("queryPlanning", 0) for x in d),
        "streaming.wal_commit_ms": sum(x.get("walCommit", 0) for x in d),
        "streaming.commit_offsets_ms": sum(x.get("commitOffsets", 0) for x in d),
        "streaming.latest_offset_ms": sum(x.get("latestOffset", 0) for x in d),
        "state.update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state.dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "state.rows_total": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
    }
    return m


def overhead_pct(untraced, traced):
    return 100.0 * (traced - untraced) / untraced if untraced else 0.0


def complete(m):
    """Every per-layer metric, 0 where the workload has no such layer."""
    return {name: {"value": float(m.get(name, 0) or 0), "unit": unit}
            for name, unit in PER_LAYER}
