#!/usr/bin/env python3
"""Span reader: per-span-name totals of a traced run.

    python3 perfbench/spans.py .bench_build/runs/<workload>-<seed>-<pid>/out

Prints, for every span name: calls, total and self wall time, and the
Spark jobs, tasks and executor time attributed to spans of that name.
"""
import collections
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(out):
    spans = {}
    with open(os.path.join(out, "spans.tsv")) as f:
        for line in f:
            sid, parent, name, req, t0, t1 = line.rstrip("\n").split("\t")
            spans[int(sid)] = (int(parent), name, int(t0), int(t1))
    counters = collections.defaultdict(float)
    path = os.path.join(out, "counters.tsv")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                sid, key, val = line.rstrip("\n").split("\t")
                counters[(int(sid), key)] += float(val)
    selfs = stats.self_times({s: (p, t0, t1) for s, (p, _, t0, t1) in spans.items()})
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0, 0.0, 0.0, 0.0])
    for sid, (_, name, t0, t1) in spans.items():
        r = rows[name]
        r[0] += 1
        r[1] += (t1 - t0) / 1e6
        r[2] += selfs[sid] / 1e6
        r[3] += counters[(sid, "sched.jobs")]
        r[4] += counters[(sid, "sched.tasks")]
        r[5] += counters[(sid, "exec.run_ms")]
    print("%-48s %6s %11s %11s %6s %7s %11s" % ("span", "calls", "total_ms", "self_ms", "jobs", "tasks",
                                                 "exec_ms"))
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        print("%-48s %6d %11.1f %11.1f %6d %7d %11.1f" % (name, r[0], r[1], r[2], r[3], r[4], r[5]))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
