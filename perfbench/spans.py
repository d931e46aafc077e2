#!/usr/bin/env python3
"""Span tree and per-layer self time for a traced benchmark run.

A traced run records the client's calls into graft, the streaming
triggers, and Spark's SQL executions, planning and jobs, each with a
start and an end. One client thread makes every call, so a span's
parent is the innermost span that was open when it started.

    python3 perfbench/spans.py <spans.jsonl>      self time per layer
    python3 perfbench/spans.py --overhead <dir>   traced vs untraced runs

Self time of a span is its duration minus the time its children cover.
"""
import json
import os
import sys

# nesting rank when two spans start at the same moment
RANK = {"bench": 0, "call": 1, "trigger": 2, "trigger_phase": 3,
        "planning": 4, "sql": 5, "job": 6}
# micro-batch phases in the order MicroBatchExecution runs them; the
# progress report gives only their durations, so they are laid out in
# this order from the trigger's start
TRIGGER_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets"]
SELF_LAYERS = ["api", "operators", "functions", "streaming", "trigger",
               "sql", "planning", "job"]


def build(records):
    """Spans with ids and parents from one run's records."""
    spans = []

    def add(kind, name, layer, start, end, req=None):
        if start is None or end is None or end < start:
            return
        spans.append({"kind": kind, "name": name, "layer": layer,
                      "start": float(start), "end": float(end), "req": req})

    jobs = {}
    for r in records:
        t = r["t"]
        if t == "phase":
            add("bench", r["name"], "bench", r["start"], r["end"])
        elif t == "call":
            add("call", r["name"], r["layer"], r["start"], r["end"], r["req"])
        elif t == "trigger":
            ms = r["ms"]
            add("trigger", "trigger", "trigger", r["start"],
                r["start"] + ms.get("triggerExecution", 0))
            at = r["start"]
            for p in TRIGGER_PHASES:
                d = ms.get(p, 0)
                if d > 0:
                    add("trigger_phase", p, "trigger", at, at + d)
                    at += d
        elif t == "sql":
            add("sql", r.get("func") or "sql", "sql", r["start"], r["end"])
            if r.get("plan_start") is not None:
                add("planning", "planning", "planning", r["plan_start"], r["plan_end"])
        elif t == "job_start":
            jobs[r["job"]] = r["start"]
        elif t == "job_end" and r["job"] in jobs:
            add("job", "job %d" % r["job"], "job", jobs[r["job"]], r["end"])

    spans.sort(key=lambda s: (s["start"], RANK[s["kind"]], -s["end"]))
    stack = []
    for i, s in enumerate(spans):
        s["id"] = i
        while stack and stack[-1]["end"] <= s["start"]:
            stack.pop()
        parent = stack[-1] if stack else None
        s["parent"] = parent["id"] if parent else None
        if s["req"] is None and parent is not None:
            s["req"] = parent["req"]
        stack.append(s)
    return spans


def covered(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(spans):
    """Self time in ms summed per layer (the bench's own phases excluded)."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        if s["layer"] not in out:
            continue
        inner = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        inner = [(a, b) for a, b in inner if b > a]
        out[s["layer"]] += (s["end"] - s["start"]) - covered(inner)
    return out


def write(spans, path):
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({k: s[k] for k in
                                ("id", "parent", "name", "layer", "req", "start", "end")}) + "\n")


def overhead(results_dir):
    """Traced vs untraced latency per workload, from saved results of
    the same workload and seed."""
    runs = {}
    for name in sorted(os.listdir(results_dir)):
        if name.startswith("result-") and name.endswith(".json"):
            with open(os.path.join(results_dir, name)) as f:
                r = json.load(f)
            runs.setdefault((r["workload"], r["seed"]), {})[r["trace"]] = r
    out = {}
    for (workload, seed), pair in sorted(runs.items()):
        if 0 in pair and 1 in pair:
            base = pair[0]["e2e"]["latency_ms_p50"]
            traced = pair[1]["e2e"]["latency_ms_p50"]
            out.setdefault(workload, []).append(traced / base - 1.0)
    return out


def main(argv):
    if len(argv) == 3 and argv[1] == "--overhead":
        for workload, xs in overhead(argv[2]).items():
            xs = sorted(xs)
            print("%s: tracing overhead on latency_ms_p50 %+.1f%% (median of %d seeds)"
                  % (workload, 100 * xs[len(xs) // 2], len(xs)))
        return 0
    if len(argv) == 2:
        with open(argv[1]) as f:
            spans = [json.loads(line) for line in f]
        out = self_ms(spans)
        for layer in SELF_LAYERS:
            print("%-10s self %10.1f ms" % (layer, out[layer]))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))
