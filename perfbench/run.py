#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run compiles graft's
main sources and the benchmark client into .bench_build/perfbench and
writes the fixed input tables there; later runs reuse both. Each run
starts one JVM on local[nproc], sets up (session, inputs, a full warm
pass), measures whole rounds for --seconds, checks every output, and
prints one JSON result as the last line of stdout. See
perfbench/README.md for the workloads and metrics.

Extra flags: --inject <op> drops one row of that op's result (or of
every lookup, with `lookup`) to prove a wrong result is caught;
--write-golden records the fingerprints of this run as the expected
outputs.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output
import layers  # noqa: E402
import spans as spanlib  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("stream_ingest", "state_store", "batch_query")
# a fixed heap and young generation, so that peak RSS tracks the live
# data rather than the collector's sizing decisions
HEAP = "2g"
YOUNG = "512m"
JVM_TIMEOUT_S = 170
JVM_OPTS = [
    # no hsperfdata file in the system temp dir: runs write only inside the checkout
    "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xss8m", "-Duser.timezone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("Spark jars with a Scala compiler not found (set SPARK_HOME)")
    return jars


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        fail("graft sources not found under src/main/scala: run from a graft checkout")
    return main + bench


def java(cp, args, log, timeout):
    """Run a JVM to completion; returns its peak RSS in MB."""
    with open(log, "w") as out:
        p = subprocess.Popen(["java"] + JVM_OPTS + ["-cp", cp] + args,
                             stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        deadline = time.time() + timeout
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                fail("JVM timed out after %d s, log: %s" % (timeout, log))
            time.sleep(0.05)
    p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail("JVM exited with %d:\n%s" % (p.returncode, tail))
    return usage.ru_maxrss / 1024.0


def build(jars, files):
    """Compile graft and the client into one jar, then write the fixed
    inputs in a JVM that also records a class-data-sharing archive,
    which shortens every run's JVM and Spark start-up. Returns the
    classpath, the archive and the input directory."""
    out = os.path.join(BUILD, "build-" + digest(files))
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    data = os.path.join(BUILD, "data-" + digest([os.path.join(HERE, "src", "perfbench",
                                                              "Inputs.scala")]))
    cp = jar + os.pathsep + os.path.join(jars, "*")
    if not os.path.isfile(jar):
        os.makedirs(out, exist_ok=True)
        classes = os.path.join(out, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-classpath", os.path.join(jars, "*"),
                               "-d", classes] + files))
        java(os.path.join(jars, "*"), ["-Xmx2g", "scala.tools.nsc.Main", "@" + argfile],
             os.path.join(out, "scalac.log"), 900)
        os.remove(argfile)
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, names in os.walk(classes):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
        os.rename(jar + ".tmp", jar)
        shutil.rmtree(classes)
    if not (os.path.isfile(archive) and os.path.isdir(data)):
        gen = data + ".tmp%d" % os.getpid()
        java(cp, ["-Xmx" + HEAP, "-XX:ArchiveClassesAtExit=" + archive + ".tmp",
                  "-Djava.io.tmpdir=" + out, "perfbench.Main", "gen", gen],
             os.path.join(out, "gen.log"), 600)
        os.rename(archive + ".tmp", archive)
        shutil.rmtree(gen + ".work", ignore_errors=True)
        if os.path.isdir(data):
            shutil.rmtree(gen)
        else:
            os.rename(gen, data)
    return cp, archive, data


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def metrics(workload, recs, golden, rss_mb):
    """End-to-end metrics, the workload's own metrics, and the check:
    (e2e, detail, attempted, failed, wrong calls)."""
    phases = {r["name"]: r for r in recs if r["t"] == "phase"}
    m0, m1 = phases["measure"]["start"], phases["measure"]["end"]
    wall_s = (m1 - m0) / 1000.0
    setup_s = sum((phases[p]["end"] - phases[p]["start"]) / 1000.0
                  for p in ("session", "inputs", "warm") if p in phases)
    calls = [r for r in recs if r["t"] == "call"]
    measured = [c for c in calls if c["round"] >= 1]

    def wrong(c):
        if "error" in c:
            return True
        if "fp" in c:
            return golden.get(c["op"]) != c["fp"]
        return c.get("ok") is False

    # the measured calls, and state_store's final snapshot check
    checked = [c for c in calls if c["round"] != 0]
    failed = sum(1 for c in checked if wrong(c))
    detail = {}

    def put(name, value, unit):
        detail[name] = {"value": value, "unit": unit}

    if workload == "stream_ingest":
        trig = [t for t in recs if t["t"] == "trigger" and m0 <= t["start"] <= m1]
        ms = [t["ms"].get("triggerExecution", 0) for t in trig]
        tput, p50, p90 = sum(t["rows"] for t in trig) / wall_s, pct(ms, 0.5), pct(ms, 0.9)
        put("events_per_s", tput, "1/s")
        put("batch_ms_p50", p50, "ms")
        put("batch_ms_p90", p90, "ms")
        put("batches", len(trig), "count")
    elif workload == "state_store":
        up_ms = [c["end"] - c["start"] for c in measured if c["op"] == "upsert"]
        look_ms = [c["end"] - c["start"] for c in measured if c["op"] == "lookup"]
        rows = sum(c["rows"] for c in measured if c["op"] == "upsert")
        store = next(r for r in recs if r["t"] == "store")
        tput, p50, p90 = rows / (sum(up_ms) / 1000.0), pct(look_ms, 0.5), pct(look_ms, 0.9)
        put("ingest_rows_per_s", tput, "1/s")
        put("upsert_ms_p50", pct(up_ms, 0.5), "ms")
        put("lookup_ms_p50", p50, "ms")
        put("lookup_ms_p90", p90, "ms")
        put("lookups", len(look_ms), "count")
        put("store_bytes_per_event", store["bytes"] / store["events"], "B")
    else:
        q_ms = [c["end"] - c["start"] for c in measured]
        tput, p50, p90 = len(q_ms) / wall_s, pct(q_ms, 0.5), pct(q_ms, 0.9)
        put("queries_per_min", tput * 60.0, "1/min")
        put("query_s_p50", p50 / 1000.0, "s")
        put("query_s_p90", p90 / 1000.0, "s")
        put("queries", len(q_ms), "count")
    put("setup_s", setup_s, "s")
    put("error_rate", failed / len(checked), "ratio")
    put("peak_rss_mb", rss_mb, "MB")
    e2e = {"setup_s": {"value": setup_s, "unit": "s"},
           "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
           "throughput_per_s": {"value": tput, "unit": "1/s"},
           "latency_ms_p50": {"value": p50, "unit": "ms"},
           "latency_ms_p90": {"value": p90, "unit": "ms"}}
    return e2e, detail, len(checked), failed, [c for c in calls if wrong(c)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default=None)
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()

    files = sources()
    jars = spark_jars()
    cp, archive, data = build(jars, files)

    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "work", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(work, "records.jsonl")
    args = ["-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:SharedArchiveFile=" + archive,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "perfbench.Main", "run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            data, work, records, ",".join(layers.OPS[a.workload])] + \
        ([a.inject] if a.inject else [])
    rss_mb = java(cp, args, os.path.join(work, "jvm.log"), JVM_TIMEOUT_S)
    with open(records) as f:
        recs = [json.loads(line) for line in f]
    golden_path = os.path.join(HERE, "golden.json")
    with open(golden_path) as f:
        golden = json.load(f)["fingerprints"]
    if a.write_golden:
        fps = {}
        for c in recs:
            if c["t"] == "call" and "fp" in c:
                if fps.setdefault(c["op"], c["fp"]) != c["fp"]:
                    fail("op %s gave two different results in one run" % c["op"])
        golden.update(fps)
        with open(golden_path, "w") as f:
            json.dump({"fingerprints": dict(sorted(golden.items()))}, f, indent=1)
            f.write("\n")

    e2e, detail, attempted, failed, bad = metrics(a.workload, recs, golden, rss_mb)
    host = next(r for r in recs if r["t"] == "host")
    host = {"nproc": host["nproc"], "heap_mb": host["heap_mb"], "sf": host["sf"],
            "commit": commit(), "src_digest": os.path.basename(os.path.dirname(archive))[6:],
            "control_s": host["control_s"]}
    print(json.dumps({"host": host}))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "metrics": detail}))
    print(json.dumps({"phases_s": {r["name"]: round((r["end"] - r["start"]) / 1000.0, 3)
                                   for r in recs if r["t"] == "phase"}}))
    for c in bad:
        print("wrong result: %s round %d %s" % (c["op"], c["round"],
                                                c.get("error") or c.get("fp", "")))
    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "e2e": {k: v["value"] for k, v in e2e.items()},
              "detail": {k: v["value"] for k, v in detail.items()}}
    out_metrics = e2e
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    if a.trace:
        tree = spanlib.build(recs)
        span_file = os.path.join(results, "spans-%s.jsonl" % tag)
        spanlib.write(tree, span_file)
        out_metrics = layers.per_layer(a.workload, recs, tree, host, e2e)
        result["layers"] = {k: v["value"] for k, v in out_metrics.items()}
        print("spans: %s (%d spans)" % (os.path.relpath(span_file, ROOT), len(tree)))
    with open(os.path.join(results, "result-%s.json" % tag), "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
