#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload oltp --seed 1 --seconds 24 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source with scalac (no sbt), generates the workload's inputs from the
seed, runs the closed loop in one JVM, checks every result, and prints
the metrics; the last stdout line is the JSON result. Exits non-zero
when a result is wrong, a request fails, or the run cannot start.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the sbt build names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
WORKLOADS = ("oltp", "batch")
HEAP = "3g"

END_TO_END = [
    ("setup_s", "s"), ("req_per_s", "1/s"),
    ("read_p50_ms", "ms"), ("read_tail_ms", "ms"),
    ("write_p50_ms", "ms"), ("write_tail_ms", "ms"),
    ("peak_rss_mb", "MB"), ("space_amp", "ratio"), ("recall_at_10", "fraction"),
]

JOBS = ["connectedComponents", "minLabel", "pageRank", "personalizedPageRank",
        "labelPropagation", "kCore", "hits", "hyperANF", "multiSourceDistances",
        "maximalIndependentSet"]
ROUND_JOBS = ["minLabel", "kCore", "multiSourceDistances", "maximalIndependentSet"]
SPARK_KEYS = [
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("plan.exchanges", "count"), ("sched.jobs", "count"), ("sched.stages", "count"),
    ("sched.tasks", "count"), ("sched.one_task_stages", "count"), ("sched.delay_ms", "ms"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.failed_tasks", "count"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
    ("spill.disk_bytes", "bytes"), ("spill.memory_bytes", "bytes"),
    ("io.input_bytes", "bytes"), ("io.input_rows", "count"), ("io.output_bytes", "bytes"),
    ("io.files_written", "count"),
]
# spans timed per call (mean ms per call over the traced half)
SPAN_MS = (["core.GraphSnapshot.open", "core.GraphSnapshot.write", "core.GraphSnapshot.compactDeltas",
            "operators.UniqueIndex.lookup", "operators.QueryStep.apply", "operators.Traversal.run",
            "operators.TxLog.begin", "operators.TxLog.commit", "operators.TxLog.compact",
            "streaming.EventStream.upsert"]
           + ["analytics.GraphAnalytics.%s" % j for j in JOBS]
           + ["pipeline.Dedup.exactDuplicatesIncremental", "pipeline.Dedup.nearDuplicatesIncremental"]
           + ["pipeline.%s.%s" % (c, op) for c in ("Ivf", "Pq", "Sq") for op in ("append", "search")]
           + ["pipeline.Ivf.compact", "pipeline.Pq.compact"])
MODULES = ["core", "operators", "streaming", "analytics", "pipeline"]

PER_LAYER = ([(s + ".ms", "ms") for s in SPAN_MS]
             + [("core.GraphSnapshot.open.calls", "count"),
                ("core.GraphSnapshot.compactDeltas.calls", "count"),
                ("core.delta_dirs.max", "count"),
                ("operators.rows_read_per_row_returned", "ratio")]
             + [("analytics.GraphAnalytics.%s.rounds" % j, "count") for j in ROUND_JOBS]
             + [("analytics.jobs_per_round", "ratio"),
                ("pipeline.Dedup.candidates_per_dup", "ratio"),
                ("pipeline.ann.rows_scored_per_result", "ratio")]
             + [("spark." + k, u) for k, u in SPARK_KEYS]
             + [("spark.driver.self_ms", "ms"), ("spark.storage.peak_bytes", "bytes")]
             + [("self_ms." + m, "ms") for m in MODULES]
             + [("trace.overhead.read_p50_ms", "ms"), ("trace.overhead.write_p50_ms", "ms"),
                ("trace.overhead.req_per_s", "1/s")])


class Failure(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build

def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, classpath, sources):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + sorted(sources)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise Failure("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(build_dir):
    """Compile src/main/scala, then the benchmark against it; each step
    is skipped when its sources (and what it compiles against) are
    unchanged."""
    engine_src = glob.glob("src/main/scala/**/*.scala", recursive=True)
    bench_src = glob.glob(os.path.join(HERE, "scala", "*.scala"))
    if not engine_src:
        raise Failure("no engine sources under src/main/scala: run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        raise Failure("Spark jars not found (set SPARK_HOME)")
    steps = [("engine", engine_src, SPARK_JARS + "/*"),
             ("bench", bench_src, SPARK_JARS + "/*:" + os.path.join(build_dir, "engine"))]
    stamp = ""
    for name, srcs, cp in steps:
        stamp = hashlib.sha256((stamp + _digest(srcs)).encode()).hexdigest()
        out = os.path.join(build_dir, name)
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(out):
            continue
        log("compiling %s (%d files)" % (name, len(srcs)))
        t0 = time.time()
        _scalac(out, cp, srcs)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log("compiled %s in %.1f s" % (name, time.time() - t0))
    return [os.path.join(build_dir, "bench"), os.path.join(build_dir, "engine")]


# ------------------------------------------------------------------- run

def cpu_probe():
    """tools/cpu_probe.py's one-line JSON: the box's CPU state."""
    if not os.path.exists("tools/cpu_probe.py"):
        return None
    r = subprocess.run([sys.executable, "tools/cpu_probe.py"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=60)
    try:
        return json.loads(r.stdout.strip().splitlines()[-1])
    except (ValueError, IndexError):
        return None


def run_jvm(classpath, workload, input_dir, work_dir, out_dir, seconds, trace, tmp):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd = (["java"] + opens +
           ["-XX:-UsePerfData", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.3", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dspark.local.dir=" + tmp, "-Dderby.system.home=" + tmp,
            "-cp", ":".join(classpath + [SPARK_JARS + "/*"]),
            "perfbench.Main", workload, input_dir, work_dir, out_dir, str(seconds), str(trace)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=seconds + 140)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise Failure("JVM timed out")
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise Failure("JVM exited with %d:\n%s" % (rc, tail))


# --------------------------------------------------------------- metrics

def request_metrics(reqs, strict=True):
    """End-to-end figures from request records (one phase). A request
    class with no completed request is an error when `strict`, and is
    left out otherwise (half a traced run may hold no write)."""
    ok = [r for r in reqs if r["ok"]]
    if not ok:
        raise Failure("no request completed")
    span = (max(r["t1"] for r in reqs) - min(r["t0"] for r in reqs)) / 1e9
    out = {"req_per_s": len(ok) / span}
    for cls in ("read", "write"):
        lat = [(r["t1"] - r["t0"]) / 1e6 for r in ok if r["cls"] == cls]
        if not lat:
            if strict:
                raise Failure("no %s request completed in the measured window" % cls)
            continue
        p50, tail, p, n = stats.summary(lat)
        out[cls + "_p50_ms"] = p50
        out[cls + "_tail_ms"] = tail
        out[cls + "_tail_percentile"] = p
        out[cls + "_n"] = n
    return out


def layer_metrics(out_dir, reqs, extra):
    spans = {}
    for s in check.read_tsv(os.path.join(out_dir, "spans.tsv")):
        spans[int(s[0])] = (int(s[1]), s[2], int(s[3]), int(s[4]), int(s[5]))
    counters = {}
    for span, key, val in check.read_tsv(os.path.join(out_dir, "counters.tsv")):
        counters[(int(span), key)] = counters.get((int(span), key), 0.0) + float(val)
    jobs = [(int(a), int(b) * 10 ** 6, int(c) * 10 ** 6) for a, b, c in check.read_tsv(os.path.join(out_dir, "jobs.tsv"))]
    traced = [r for r in reqs if r["traced"]]
    n_req = max(1, len(traced))
    m = {}
    by_name = {}
    for sid, (parent, name, req, t0, t1) in spans.items():
        by_name.setdefault(name, []).append(sid)
    for s in SPAN_MS:
        ids = by_name.get(s, [])
        m[s + ".ms"] = (sum(spans[i][4] - spans[i][3] for i in ids) / len(ids) / 1e6) if ids else 0.0
    m["core.GraphSnapshot.open.calls"] = len(by_name.get("core.GraphSnapshot.open", [])) / n_req
    m["core.GraphSnapshot.compactDeltas.calls"] = float(len(by_name.get("core.GraphSnapshot.compactDeltas", [])))
    m["core.delta_dirs.max"] = extra.get("core.delta_dirs.max", 0.0)

    children = {}
    for sid, sp in spans.items():
        children.setdefault(sp[0], []).append(sid)

    def subtree(sid):
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack += children.get(x, [])
        return out

    def total(key, sids):
        return sum(counters.get((x, key), 0.0) for x in sids)

    roots = {sid: sp for sid, sp in spans.items() if sp[1] == "request"}
    req_by_id = {r["req"]: r for r in traced}
    read_roots = [sid for sid, sp in roots.items() if req_by_id.get(sp[2], {}).get("cls") == "read"]
    rows = sum(req_by_id[roots[s][2]]["rows"] for s in read_roots if roots[s][2] in req_by_id)
    in_rows = sum(total("io.input_rows", subtree(s)) for s in read_roots)
    m["operators.rows_read_per_row_returned"] = in_rows / rows if rows else 0.0

    for j in ROUND_JOBS:
        m["analytics.GraphAnalytics.%s.rounds" % j] = extra.get("analytics.GraphAnalytics.%s.rounds" % j, 0.0)
    round_spans = [i for j in ROUND_JOBS for i in by_name.get("analytics.GraphAnalytics." + j, [])]
    rounds = extra.get("traced_rounds_total", 0.0)
    m["analytics.jobs_per_round"] = (sum(total("sched.jobs", subtree(i)) for i in round_spans) / rounds
                                     if rounds else 0.0)
    dups = extra.get("dedup.verified_pairs", 0.0)
    m["pipeline.Dedup.candidates_per_dup"] = extra.get("dedup.candidates", 0.0) / dups if dups else 0.0
    search = [i for c in ("Ivf", "Pq", "Sq") for i in by_name.get("pipeline.%s.search" % c, [])]
    results = sum(req_by_id[r]["rows"] for r in {spans[i][2] for i in search} if r in req_by_id)
    m["pipeline.ann.rows_scored_per_result"] = (sum(total("io.input_rows", subtree(i)) for i in search) / results
                                               if results else 0.0)

    for key, _ in SPARK_KEYS:
        m["spark." + key] = sum(v for (s, k), v in counters.items() if k == key) / n_req
    # driver self time: request wall time outside every Spark job it launched
    self_total = 0
    for sid, sp in roots.items():
        tree = set(subtree(sid))
        ivs = [(max(a, sp[3]), min(b, sp[4])) for s, a, b in jobs if s in tree and min(b, sp[4]) > max(a, sp[3])]
        self_total += (sp[4] - sp[3]) - stats.union_length(ivs)
    m["spark.driver.self_ms"] = self_total / 1e6 / n_req
    m["spark.storage.peak_bytes"] = extra.get("spark.storage.peak_bytes", 0.0)
    selfs = stats.self_times({sid: (sp[0], sp[3], sp[4]) for sid, sp in spans.items()})
    for mod in MODULES:
        m["self_ms." + mod] = sum(t for sid, t in selfs.items()
                                  if spans[sid][1].startswith(mod + ".")) / 1e6 / n_req
    return m


def run(args):
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    classpath = build(build_dir)
    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("input", "work", "out", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    # the probe costs ~6 s of a four-core box; traced runs carry it
    probe_before = cpu_probe() if args.trace else None
    t0 = time.time()
    gen.generate(args.workload, args.seed, dirs["input"])
    log("inputs generated in %.1f s" % (time.time() - t0))
    t0 = time.time()
    run_jvm(classpath, args.workload, dirs["input"], dirs["work"], dirs["out"],
            args.seconds, args.trace, dirs["tmp"])
    log("JVM ran %.1f s" % (time.time() - t0))
    probe_after = cpu_probe() if args.trace else None

    out = dirs["out"]
    reqs = [{"req": int(r[0]), "kind": r[1], "cls": r[2], "t0": int(r[3]), "t1": int(r[4]),
             "ok": r[5] == "1", "rows": int(r[6]), "traced": r[7] == "1", "err": r[8] if len(r) > 8 else ""}
            for r in check.read_tsv(os.path.join(out, "requests.tsv"))]
    extra = {}
    for k, v in check.read_tsv(os.path.join(out, "extra.tsv")):
        try:
            extra[k] = float(v)
        except ValueError:
            extra[k] = v
    setup = [float(x[0]) for x in check.read_tsv(os.path.join(out, "setup.tsv"))]

    t0 = time.time()
    if args.workload == "oltp":
        verdict = check.check_oltp(out, os.path.join(dirs["work"], "snap_0"))
        space_amp = extra["space_amp"]
    else:
        verdict = check.check_analytics(out, dirs["input"]).merge(check.check_curation(out, dirs["input"]))
        space_amp = ((extra["analytics.store_bytes"] + extra["curation.store_bytes"]) /
                     (check.analytics_raw_bytes(out, dirs["input"]) + extra["curation.raw_bytes"]))
    log("checked %d results in %.1f s" % (verdict.checked, time.time() - t0))

    errors = [r for r in reqs if not r["ok"]]
    attempted = len(reqs)
    failed = len(errors) + len(verdict.wrong)
    untraced = [r for r in reqs if not r["traced"]]
    e2e = request_metrics(untraced, strict=not args.trace)
    e2e["setup_s"] = statistics.median(setup)
    e2e["peak_rss_mb"] = extra["peak_rss_mb"]
    e2e["space_amp"] = space_amp
    e2e["recall_at_10"] = statistics.mean(r for r in verdict.recalls if r is not None) if verdict.recalls else 1.0
    diag = {
        "error_rate": failed / attempted if attempted else 1.0,
        "read_tail": "p%.1f of n=%d" % (e2e.get("read_tail_percentile", 0), e2e.get("read_n", 0)),
        "write_tail": "p%.1f of n=%d" % (e2e.get("write_tail_percentile", 0), e2e.get("write_n", 0)),
        "setup_runs_s": setup, "results_checked": verdict.checked,
        "wrong": verdict.wrong[:10], "request_errors": [r["err"] for r in errors][:5],
        "notes": verdict.notes, "seed": args.seed, "workload": args.workload,
        "nproc": os.cpu_count(), "heap": HEAP, "spark_version": extra.get("spark_version"),
        "jvm_heap_max_mb": extra.get("heap_max_mb"), "git_commit": git_commit(),
        "cpu_probe_before": probe_before, "cpu_probe_after": probe_after,
    }
    if args.workload == "batch":
        jobs = [(r["t1"] - r["t0"]) / 1e9 for r in untraced if r["ok"] and r["kind"] in JOBS]
        diag["job_p50_s"] = stats.percentile(jobs, 50)
    if args.trace:
        names = PER_LAYER
        metrics = layer_metrics(out, reqs, extra)
        traced = request_metrics([r for r in reqs if r["traced"]], strict=False)
        for k in ("read_p50_ms", "write_p50_ms", "req_per_s"):
            if k in traced and k in e2e:
                metrics["trace.overhead." + k] = traced[k] - e2e[k]
    else:
        names = END_TO_END
        metrics = e2e
    result = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit} for name, unit in names}
    for name, unit in names:
        log("%-48s %14.4f %s" % (name, result[name]["value"], unit))
    print(json.dumps({"diagnostics": diag}, default=str))
    with open(os.path.join(build_dir, "runs", "last_%s.json" % args.workload), "w") as f:
        json.dump({"metrics": result, "diagnostics": diag}, f, indent=1, default=str)
    for k in ("input", "work", "tmp"):
        shutil.rmtree(dirs[k], ignore_errors=True)
    correct = not verdict.wrong and not errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": result}))
    return 0 if correct else 1


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        return run(args)
    except Failure as e:
        log("perfbench: " + str(e))
        return 2


if __name__ == "__main__":
    sys.exit(main())
