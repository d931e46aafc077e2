#!/usr/bin/env python3
"""Compare benchmark results of two builds, workload by workload.

    python3 perfbench/compare.py <before> <after>

Each argument is a result file or a directory of them (run.py saves one
per run under .bench_build/perfbench/results). Results of one workload
are reduced to the median of each metric, then after/before is printed.
Runs from hosts with a different core count are refused: every metric
here scales with nproc, so such a ratio measures the host, not the code.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "result-*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        sys.exit("compare: no results in %s" % path)
    return runs


def medians(runs):
    out = {}
    for r in runs:
        if r["trace"]:
            continue
        for k, v in list(r["e2e"].items()) + list(r["detail"].items()):
            out.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    return {w: {k: statistics.median(v) for k, v in m.items()} for w, m in out.items()}


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    cpus = {r["host"]["nproc"] for r in before + after}
    if len(cpus) != 1:
        print("compare: refused, runs come from hosts with nproc %s" % sorted(cpus),
              file=sys.stderr)
        return 3
    a, b = medians(before), medians(after)
    for workload in sorted(set(a) & set(b)):
        print(workload)
        for k in sorted(set(a[workload]) & set(b[workload])):
            x, y = a[workload][k], b[workload][k]
            ratio = "%.3f" % (y / x) if x else "n/a"
            print("  %-24s %14.4f -> %14.4f  x%s" % (k, x, y, ratio))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
