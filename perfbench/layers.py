"""Per-layer metrics of a traced run.

Every metric is reported on every workload (0 where the layer does not
run). Totals are per measured round: one pass over the workload's op
list, or one compaction cycle of `state_store`. Durations of one thing
(a trigger, a lookup, an upsert) are means over the measured window.
"""
import bisect
import statistics

import spans as spanlib

STREAM_OPS = ["stream_dedup", "stream_deciles", "stream_command_dedup", "es_live_store"]
BATCH_OPS = ["es_latest_state", "es_changelog", "q5_multijoin", "api_commands",
             "dedup_exact_join", "ann_lsh", "cosine_topk", "vocab_topk"]
STORE_OPS = ["upsert", "lookup"]
OPS = {"stream_ingest": STREAM_OPS, "batch_query": BATCH_OPS, "state_store": STORE_OPS}

# (name, unit, better)
METRICS = [
    ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.planning_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.input_rows", "count", "higher"),
    ("streaming.sink_write_ms", "ms", "lower"),
    ("streaming.sink_files", "count", "lower"),
    ("streaming.sink_bytes", "B", "lower"),
    ("streaming.state_rows_total", "count", "lower"),
    ("streaming.state_rows_updated", "count", "lower"),
    ("streaming.state_mem_bytes", "B", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_store_instances", "count", "lower"),
    ("livestore.upsert_busy_s", "s", "lower"),
    ("livestore.compactions", "count", "lower"),
    ("livestore.compaction_s", "s", "lower"),
    ("livestore.upsert_files_written", "count", "lower"),
    ("livestore.upsert_bytes_written", "B", "lower"),
    ("livestore.lookup_planning_ms", "ms", "lower"),
    ("livestore.lookup_exec_ms", "ms", "lower"),
    ("livestore.lookup_roots_mean", "count", "lower"),
    ("livestore.lookup_files_read", "count", "lower"),
    ("livestore.lookup_bytes_read", "B", "lower"),
    ("livestore.snapshot_s", "s", "lower"),
    ("operators.busy_s", "s", "lower"),
    ("functions.busy_s", "s", "lower"),
    ("api.busy_s", "s", "lower"),
    ("streaming.busy_s", "s", "lower"),
    ("plans.topk_busy_s", "s", "lower"),
    ("plans.topk_share", "ratio", "lower"),
    ("sources.capital_build_s", "s", "lower"),
    ("sources.capital_bytes", "B", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.planning_ms", "ms", "lower"),
    ("spark.execution_ms", "ms", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.output_bytes", "B", "lower"),
    ("spark.task_skew", "ratio", "lower"),
] + [("op.%s.s" % op, "s", "lower") for op in STREAM_OPS + BATCH_OPS + STORE_OPS] + [
    ("host.control_s", "s", "lower"),
] + [("self.%s_s" % layer, "s", "lower") for layer in spanlib.SELF_LAYERS] + [
    ("trace.latency_ms_p50", "ms", "lower"),
]

LIVESTORE_WRITES = ("/_staging_delta_b", "/_staging_base_v")


def per_layer(workload, recs, tree, host, e2e):
    out = {name: 0.0 for name, _, _ in METRICS}
    phases = {r["name"]: r for r in recs if r["t"] == "phase"}
    m0, m1 = phases["measure"]["start"], phases["measure"]["end"]
    w0, w1 = phases["warm"]["start"], phases["warm"]["end"]

    def inwin(r):
        return m0 <= r["start"] <= m1

    calls = sorted((r for r in recs if r["t"] == "call" and r["round"] >= 1),
                   key=lambda c: c["start"])
    rounds = max(c["round"] for c in calls)
    starts = [c["start"] for c in calls]

    def call_at(t):
        i = bisect.bisect_right(starts, t) - 1
        return calls[i] if i >= 0 and calls[i]["start"] <= t <= calls[i]["end"] else None

    sqls = [r for r in recs if r["t"] == "sql"]
    msql = [s for s in sqls if inwin(s)]
    trig = [t for t in recs if t["t"] == "trigger" and inwin(t)]

    if trig:
        n = len(trig)

        def mean(*keys):
            return sum(t["ms"].get(k, 0) for t in trig for k in keys) / n

        out["streaming.trigger_ms"] = mean("triggerExecution")
        out["streaming.add_batch_ms"] = mean("addBatch")
        out["streaming.planning_ms"] = mean("queryPlanning")
        out["streaming.wal_commit_ms"] = mean("walCommit", "commitOffsets")
        out["streaming.latest_offset_ms"] = mean("latestOffset")
        out["streaming.batches"] = n / rounds
        out["streaming.input_rows"] = sum(t["rows"] for t in trig) / rounds
        bounds = sorted((t["start"], t["start"] + t["ms"].get("triggerExecution", 0))
                        for t in trig)
        tstarts = [b[0] for b in bounds]

        def in_trigger(t):
            i = bisect.bisect_right(tstarts, t) - 1
            return i >= 0 and t <= bounds[i][1]

        sink = [s for s in msql if s.get("write_path") and in_trigger(s["start"])]
        out["streaming.sink_write_ms"] = sum(s["exec_ms"] for s in sink) / n
        out["streaming.sink_files"] = sum(s["write_files"] for s in sink) / n
        out["streaming.sink_bytes"] = sum(s["write_bytes"] for s in sink) / n
        state = [[o for o in t.get("state", [])] for t in trig]
        out["streaming.state_rows_total"] = max(sum(o["rows_total"] for o in s) for s in state)
        out["streaming.state_rows_updated"] = sum(o["rows_updated"] for s in state for o in s) / n
        out["streaming.state_mem_bytes"] = max(sum(o["mem_bytes"] for o in s) for s in state)
        out["streaming.state_commit_ms"] = sum(o["commit_ms"] for s in state for o in s) / n
        out["streaming.state_store_instances"] = max(sum(o["instances"] for o in s)
                                                     for s in state)

    # LiveStore writes: the upserts of `state_store`, and es_live_store's
    # foreachBatch upserts in `stream_ingest`
    store_writes = [s for s in msql
                    if any(w in (s.get("write_path") or "") for w in LIVESTORE_WRITES)]
    out["livestore.upsert_files_written"] = sum(s["write_files"] for s in store_writes) / rounds
    out["livestore.upsert_bytes_written"] = sum(s["write_bytes"] for s in store_writes) / rounds
    out["livestore.compaction_s"] = sum(
        s["exec_ms"] for s in store_writes if "_staging_base_v" in s["write_path"]) / 1000 / rounds
    if workload == "state_store":
        ups = [c for c in calls if c["op"] == "upsert"]
        looks = [c for c in calls if c["op"] == "lookup"]
        out["livestore.upsert_busy_s"] = sum(c["end"] - c["start"] for c in ups) / 1000 / rounds
        out["livestore.compactions"] = sum(1 for c in ups if c["compacted"]) / rounds
        look_sql = [s for s in msql if (call_at(s["start"]) or {}).get("op") == "lookup"]
        out["livestore.lookup_planning_ms"] = sum(s["planning_ms"] for s in look_sql) / len(looks)
        out["livestore.lookup_exec_ms"] = sum(s["exec_ms"] for s in look_sql) / len(looks)
        out["livestore.lookup_files_read"] = sum(s["files_read"] for s in look_sql) / len(looks)
        out["livestore.lookup_bytes_read"] = sum(s["bytes_read"] for s in look_sql) / len(looks)
        out["livestore.lookup_roots_mean"] = statistics.mean(c["roots"] for c in looks)
        snap = [r for r in recs if r["t"] == "call" and r["op"] == "snapshot"]
        out["livestore.snapshot_s"] = (snap[0]["end"] - snap[0]["start"]) / 1000

    for module in ("operators", "functions", "api", "streaming"):
        out[module + ".busy_s"] = sum(c["end"] - c["start"] for c in calls
                                      if c["layer"] == module) / 1000 / rounds
    topk_reqs = {id(c) for c in (call_at(s["start"]) for s in msql if s.get("topk")) if c}
    topk_ms = sum(c["end"] - c["start"] for c in calls if id(c) in topk_reqs)
    busy_ms = sum(c["end"] - c["start"] for c in calls)
    out["plans.topk_busy_s"] = topk_ms / 1000 / rounds
    out["plans.topk_share"] = topk_ms / busy_ms

    if workload == "batch_query":
        capital = [s for s in sqls if w0 <= s["start"] <= w1 and "/_staging_" in
                   (s.get("write_path") or "")]
        out["sources.capital_build_s"] = sum(s["exec_ms"] for s in capital) / 1000
        out["sources.capital_bytes"] = sum(s["write_bytes"] for s in capital)

    stages = [s for s in recs if s["t"] == "stage" and inwin(s)]
    out["spark.jobs"] = sum(1 for j in recs if j["t"] == "job_start" and inwin(j)) / rounds
    out["spark.stages"] = len(stages) / rounds
    for key in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        name = {"run_ms": "executor_run_ms", "cpu_ms": "executor_cpu_ms"}.get(key, key)
        out["spark." + name] = sum(s[key] for s in stages) / rounds
    out["spark.planning_ms"] = sum(s["planning_ms"] for s in msql) / rounds
    out["spark.execution_ms"] = sum(s["exec_ms"] for s in msql) / rounds
    skews = [s["skew"] for s in stages if s["skew"] is not None]
    out["spark.task_skew"] = statistics.mean(skews) if skews else 0.0

    by_op = {}
    for c in calls:
        by_op.setdefault(c["op"], []).append((c["end"] - c["start"]) / 1000)
    for op, xs in by_op.items():
        if "op.%s.s" % op in out:
            out["op.%s.s" % op] = statistics.median(xs)
    out["host.control_s"] = host["control_s"]
    window = [s for s in tree if m0 <= s["start"] <= m1]
    for layer, ms in spanlib.self_ms(window).items():
        out["self.%s_s" % layer] = ms / 1000 / rounds
    out["trace.latency_ms_p50"] = e2e["latency_ms_p50"]["value"]
    units = {name: unit for name, unit, _ in METRICS}
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}
