#!/usr/bin/env python3
"""Benchmark for the graft engine: named workloads of query keys at sf0.1.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jars and caches the classes under
`.bench_build/`. The tables are the repo's sf0.1 bench fixture (seed 42),
kept byte for byte in `perfbench/data/sf0.1` and checked against its
`SHA256SUMS` before every run. Each run then starts one fresh JVM
(`perfbench.Harness`) with its own `java.io.tmpdir` and
`graft.registry.root`, which are measured and deleted when it exits.

The seed fixes the order in which each warm pass issues the workload's
keys; the cold pass and the tables are fixed, so every key's row count and
digest can be checked against `perfbench/expected.json`. `--seconds` sizes
the run:
the workload's number of warm passes (`perfbench/workloads.json`) scales
with it, so that one run measures for about that long.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). A full record of the run (environment,
host CPU steal, per-key records and, when traced, the span tree) is
written to `.bench_build/results/`.
"""
import argparse
import bisect
import fcntl
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME, else of the first
    spark-submit on PATH whose install ships them with a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    die("no Spark install with a Scala compiler among its jars (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        die("no engine sources under src/main/scala; run from a source checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    """Compile engine + harness once per source tree (content-hashed)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return out
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        t0 = time.time()
        r = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
                            "-Xss8m", "-Xmx3g", "-cp", jars,
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                            "-d", out] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            die("compile failed:\n" + r.stdout[-4000:])
        open(os.path.join(out, ".complete"), "w").close()
        print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return out


def data_dir():
    """The sf0.1 tables, after checking each file against SHA256SUMS."""
    try:
        with open(os.path.join(DATA, "SHA256SUMS")) as f:
            sums = [l.split() for l in f if l.strip()]
        for digest, name in sums:
            with open(os.path.join(DATA, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    die(f"{name} in {os.path.relpath(DATA, ROOT)} does not match SHA256SUMS")
    except OSError as e:
        die(f"sf0.1 tables missing: {e}")
    return DATA


def cpu_times():
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


# The driver heap is fixed and touched in full when the JVM starts, so the
# timed passes never fault in fresh heap pages (about 0.7 s per GiB on a
# 4-vCPU VM, more when the host is busy). Against a heap grown on demand
# up to half of RAM, this cut sql_interactive's cold pass from about 9 s
# to 7.5 s and the run-to-run spread of its warm pass. 3 GiB holds a run
# with room to spare: under 0.2 GiB is live after a collection at sf0.1.
HEAP = "3g"


def run_jvm(classes, jars, data, passes, trace, timeout_s):
    """One fresh JVM over the passes; returns (spawn epoch ms, the harness's
    detail record, bytes the run left in its own directories)."""
    run = os.path.join(BUILD, "runs", uuid.uuid4().hex[:12])
    tmp, reg, local = (os.path.join(run, d) for d in ("tmp", "registry", "spark-local"))
    for d in (tmp, reg, local):
        os.makedirs(d)
    out = os.path.join(run, "detail.json")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        f"-Dgraft.registry.root={reg}", f"-Dderby.system.home={tmp}",
        "-cp", f"{classes}:{jars}", "perfbench.Harness",
        "--data", data, "--passes", ";".join(",".join(p) for p in passes),
        "--trace", str(trace), "--out", out]
    log = open(os.path.join(run, "jvm.log"), "w")
    spawn_ms = time.time() * 1000.0
    p = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    try:
        if code != 0:
            with open(os.path.join(run, "jvm.log")) as f:
                tail = f.read()[-3000:]
            die(f"harness JVM failed ({code}):\n{tail}")
        with open(out) as f:
            detail = json.load(f)
        os.remove(out)
        os.remove(os.path.join(run, "jvm.log"))
        left = dir_bytes(run)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spawn_ms, detail, left


def percentile_tail(values):
    """((p, value), n): the highest of p50, p75, p90, p95, p99 and p99.9
    (nearest rank) with at least 10 samples above it; p50 when none has."""
    xs = sorted(values)
    n = len(xs)
    best = (50.0, statistics.median(xs))
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        rank = math.ceil(p * n / 100.0)  # 1-based
        if n - rank >= 10:
            best = (p, xs[rank - 1])
    return best, n


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def key_latency(r):
    return r["build_s"] + r["plan_s"] + r["exec_s"]


def pass_totals(runs, passes):
    return [sum(key_latency(r) for r in runs if r["pass"] == p) for p in passes]


def check_outputs(runs, expected):
    failed = []
    for r in runs:
        exp = expected.get(r["key"])
        if r["error"] is not None:
            failed.append((r["key"], r["pass"], r["error"]))
        elif exp is None or (r["rows"], r["digest"]) != (exp["rows"], exp["digest"]):
            failed.append((r["key"], r["pass"],
                           f"got rows={r['rows']} digest={r['digest']}, expected {exp}"))
    return failed


def latency_stats(runs):
    """(p50, tail, how) of the key latencies of the given key executions.

    When some percentile above p50 has at least 10 samples beyond it (40
    samples or more), the pooled median and the tail of `percentile_tail`.
    With fewer there is no tail percentile, so each key's median is taken
    instead: p50 is the lower median of the per-key medians and the tail
    their maximum, so both are the latency of one key rather than a blend
    of keys that cost very different amounts."""
    lats = [key_latency(r) for r in runs]
    (p, tail), n = percentile_tail(lats)
    if p > 50.0:
        return statistics.median(lats), tail, {
            "latency_statistic": "pooled", "latency_tail_percentile": p,
            "latency_samples": n}
    by_key = {}
    for r in runs:
        by_key.setdefault(r["key"], []).append(key_latency(r))
    med = {k: statistics.median(v) for k, v in by_key.items()}
    return statistics.median_low(med.values()), max(med.values()), {
        "latency_statistic": "per_key_median", "latency_samples": len(lats),
        "latency_key_samples": {k: len(v) for k, v in by_key.items()},
        "latency_key_medians": med}


def end_to_end(detail, spawn_ms, warm_passes):
    runs = detail["runs"]
    p50, tail, how = latency_stats([r for r in runs if r["pass"] in warm_passes])
    metrics = {
        "setup_s": ((detail["setup_end_ms"] - spawn_ms) / 1000.0, "s"),
        "cold_pass_s": (pass_totals(runs, [0])[0], "s"),
        "warm_pass_s": (statistics.median(pass_totals(runs, warm_passes)), "s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
    }
    return metrics, how


CALLS = ("queries.build", "catalyst.plan", "exec.materialize")


def build_spans(detail, spawn_ms):
    """Span tree: the setup, and per key execution its three layer calls,
    with the Catalyst phases, jobs and streaming batches that started
    inside a call parented to that call."""
    spans = []

    def add(name, parent, start, end, **attrs):
        spans.append({"id": len(spans), "parent": parent, "name": name,
                      "start_ms": start, "end_ms": end, **attrs})
        return len(spans) - 1

    setup = add("setup", None, spawn_ms, detail["setup_end_ms"])
    add("Tables.warmup", setup, detail["setup_end_ms"] - detail["warmup_s"] * 1000.0,
        detail["setup_end_ms"])
    calls = []  # (start, end, span id), in start order
    for r in detail["runs"]:
        t = r["start_ms"]
        k = add("key", None, t, t + key_latency(r) * 1000.0, key=r["key"], pass_no=r["pass"])
        for name, dur in zip(CALLS, (r["build_s"], r["plan_s"], r["exec_s"])):
            calls.append((t, t + dur * 1000.0, add(name, k, t, t + dur * 1000.0)))
            t += dur * 1000.0
    starts = [c[0] for c in calls]

    def parent_of(t):
        # listener clocks are whole milliseconds: allow 2 ms of slack
        i = bisect.bisect_right(starts, t + 2) - 1
        return calls[i][2] if i >= 0 and t <= calls[i][1] + 2 else None

    for r in detail["runs"]:
        for ph, (a, b) in r["phases"].items():
            add("catalyst." + ph, parent_of(a), a, b)
    stages = {s["stage"]: s for s in detail["stages"]}
    for j in detail["jobs"]:
        st = [stages[i] for i in j["stages"] if i in stages]
        add("scheduler.job", parent_of(j["start_ms"]), j["start_ms"], j["end_ms"],
            stages=len(st), **{f: sum(s.get(f, 0) for s in st) for f in (
                "tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes", "output_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")})
    for b in detail["batches"]:
        d = b["duration_ms"]
        add("StreamQ.batch", parent_of(b["start_ms"]), b["start_ms"],
            b["start_ms"] + d.get("triggerExecution", 0), durations=d, state=b["state"])
    return spans


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(detail, spans, spawn_ms, cores, left_bytes):
    """Per-layer metrics: per key execution, averaged over the traced warm
    passes (`*_cold`: over the cold pass), unless the name says otherwise."""
    runs, passes = detail["runs"], detail["passes"]
    run_of = {}  # key span id -> harness record
    per = {}     # key span id -> {"jobs", "batches", "phases", "build_jobs"}
    records = iter(runs)
    for s in spans:
        if s["name"] == "key":
            run_of[s["id"]] = next(records)
            per[s["id"]] = {"jobs": [], "batches": [], "phases": [], "build_jobs": 0}
        elif s["parent"] is not None and spans[s["parent"]]["name"] in CALLS:
            call = spans[s["parent"]]
            p = per[call["parent"]]
            if s["name"] == "scheduler.job":
                p["jobs"].append(s)
                p["build_jobs"] += call["name"] == "queries.build"
            elif s["name"] == "StreamQ.batch":
                p["batches"].append(s)
            else:
                p["phases"].append(s)

    traced_warm = sorted(p["pass"] for p in passes if p["traced"] and p["pass"] > 0)
    untraced_warm = sorted(p["pass"] for p in passes if not p["traced"] and p["pass"] > 0)
    kw = [k for k, r in run_of.items() if r["pass"] in traced_warm]
    kc = [k for k, r in run_of.items() if r["pass"] == 0]
    lat = lambda k: key_latency(run_of[k])
    rec = lambda k, f: run_of[k][f]
    jobs_iv = lambda k: [(j["start_ms"], j["end_ms"]) for j in per[k]["jobs"]]
    k_iv = lambda k: (run_of[k]["start_ms"], run_of[k]["start_ms"] + lat(k) * 1000.0)
    jsum = lambda k, f: sum(j[f] for j in per[k]["jobs"])
    ssum = lambda k, f: sum(st[f] for b in per[k]["batches"] for st in b["state"])
    dsum = lambda k, *fs: sum(b["durations"].get(f, 0) for b in per[k]["batches"] for f in fs)
    phase_ms = lambda k, ph: (lambda v: v[1] - v[0])(run_of[k]["phases"].get(ph, (0, 0)))

    def attributed_ms(k):
        p = per[k]
        iv = [(s["start_ms"], s["end_ms"]) for s in p["jobs"] + p["batches"] + p["phases"]]
        return union_ms(iv, *k_iv(k))

    lat_w = sum(lat(k) for k in kw)
    batch_ms = [b["durations"].get("triggerExecution", 0) for k in kw for b in per[k]["batches"]]
    batch_tail = percentile_tail(batch_ms)[0][1] if batch_ms else 0.0
    arts = [p["artifacts"] for p in passes]
    rbytes = [p["registry_bytes"] for p in passes]
    warm_growth = lambda xs: mean(max(0, xs[i] - xs[i - 1]) for i in range(1, len(xs)))
    w_traced = statistics.median(pass_totals(runs, traced_warm))
    w_plain = statistics.median(pass_totals(runs, untraced_warm))
    lat_plain = latency_stats([r for r in runs if r["pass"] in untraced_warm])
    lat_traced = latency_stats([run_of[k] for k in kw])

    job_wall_s = lambda k: union_ms(jobs_iv(k), *k_iv(k)) / 1000.0
    return {
        "Tables.warmup_s": (detail["warmup_s"], "s"),
        "queries.build_s": (mean(rec(k, "build_s") for k in kw), "s"),
        "queries.build_s_cold": (mean(rec(k, "build_s") for k in kc), "s"),
        "queries.build_jobs": (mean(per[k]["build_jobs"] for k in kw), "count"),
        "queries.build_jobs_cold": (mean(per[k]["build_jobs"] for k in kc), "count"),
        "queries.build_share": (sum(rec(k, "build_s") for k in kw) / lat_w, "ratio"),
        "core.registry_artifacts_built": (arts[0], "count"),
        "core.registry_artifacts_built_warm": (warm_growth(arts), "count"),
        "core.registry_bytes_written": (rbytes[0], "bytes"),
        "core.registry_bytes_written_warm": (warm_growth(rbytes), "bytes"),
        "core.scratch_bytes_left": (left_bytes, "bytes"),
        "catalyst.plan_s": (mean(rec(k, "plan_s") for k in kw), "s"),
        "catalyst.analysis_ms": (mean(phase_ms(k, "analysis") for k in kw), "ms"),
        "catalyst.optimization_ms": (mean(phase_ms(k, "optimization") for k in kw), "ms"),
        "catalyst.planning_ms": (mean(phase_ms(k, "planning") for k in kw), "ms"),
        "scheduler.jobs": (mean(len(per[k]["jobs"]) for k in kw), "count"),
        "scheduler.stages": (mean(jsum(k, "stages") for k in kw), "count"),
        "scheduler.tasks": (mean(jsum(k, "tasks") for k in kw), "count"),
        "scheduler.job_wall_s": (mean(job_wall_s(k) for k in kw), "s"),
        "scheduler.driver_gap_s": (mean(lat(k) - job_wall_s(k) for k in kw), "s"),
        "exec.materialize_s": (mean(rec(k, "exec_s") for k in kw), "s"),
        "exec.task_run_s": (mean(jsum(k, "run_ms") / 1000.0 for k in kw), "s"),
        "exec.task_cpu_s": (mean(jsum(k, "cpu_ns") / 1e9 for k in kw), "s"),
        "exec.gc_s": (mean(jsum(k, "gc_ms") / 1000.0 for k in kw), "s"),
        "exec.peak_rss_mb": (detail["vm_hwm_kb"] / 1024.0, "MB"),
        "exec.peak_heap_after_gc_mb": (detail["heap_after_gc_peak_bytes"] / 2.0 ** 20, "MB"),
        "exec.gc_count": (detail["gc_count"], "count"),
        "exec.cpu_util": (sum(jsum(k, "run_ms") for k in kw) / 1000.0 / (lat_w * cores), "ratio"),
        "shuffle.write_bytes": (mean(jsum(k, "shuffle_write_bytes") for k in kw), "bytes"),
        "shuffle.read_bytes": (mean(jsum(k, "shuffle_read_bytes") for k in kw), "bytes"),
        "shuffle.spill_bytes": (mean(jsum(k, "spill_bytes") for k in kw), "bytes"),
        "scan.input_bytes": (mean(jsum(k, "input_bytes") for k in kw), "bytes"),
        "sink.output_bytes": (mean(jsum(k, "output_bytes") for k in kw), "bytes"),
        "StreamQ.batches": (mean(len(per[k]["batches"]) for k in kw), "count"),
        "StreamQ.trigger_ms": (mean(dsum(k, "triggerExecution") for k in kw), "ms"),
        "StreamQ.query_planning_ms": (mean(dsum(k, "queryPlanning") for k in kw), "ms"),
        "StreamQ.wal_commit_ms": (mean(dsum(k, "walCommit", "commitOffsets") for k in kw), "ms"),
        "StreamQ.add_batch_ms": (mean(dsum(k, "addBatch") for k in kw), "ms"),
        "StreamQ.batch_p50_ms": (statistics.median(batch_ms) if batch_ms else 0.0, "ms"),
        "StreamQ.batch_tail_ms": (batch_tail, "ms"),
        "state.rows_updated": (mean(ssum(k, "rows_updated") for k in kw), "count"),
        "state.update_ms": (mean(ssum(k, "update_ms") for k in kw), "ms"),
        "state.commit_ms": (mean(ssum(k, "commit_ms") for k in kw), "ms"),
        "state.memory_bytes": (mean(max([st["memory_bytes"] for b in per[k]["batches"]
                                         for st in b["state"]], default=0) for k in kw), "bytes"),
        "trace.coverage": (sum(attributed_ms(k) for k in kw) / 1000.0 / lat_w, "ratio"),
        "trace.unattributed_s": (mean(lat(k) - attributed_ms(k) / 1000.0 for k in kw), "s"),
        "trace.setup_s": ((detail["setup_end_ms"] - spawn_ms) / 1000.0, "s"),
        "trace.cold_pass_s": (pass_totals(runs, [0])[0], "s"),
        "trace.overhead_warm_pass_s": (w_traced - w_plain, "s"),
        "trace.overhead_latency_p50_s": (lat_traced[0] - lat_plain[0], "s"),
        "trace.overhead_latency_tail_s": (lat_traced[1] - lat_plain[1], "s"),
    }


def main():
    # a terminated benchmark must not leave its JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload!r}; have {sorted(spec['workloads'])}")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)["keys"]
    work = spec["workloads"][a.workload]

    jars = spark_jars()
    classes = build(jars)
    data = data_dir()
    # A fixed pass count per --seconds, not a wall-clock deadline: warm
    # passes keep getting faster as the JIT warms up, so a deadline would
    # let host noise change which passes the medians are taken over.
    # A traced run needs a traced and an untraced warm pass.
    warm = max(2 if a.trace else 1, round(work["warm_passes_per_30s"] * a.seconds / 30.0))
    # The cold pass always issues the keys in the listed order: the order a
    # fresh JVM first sees them in moves the whole run (over ten seeded
    # orders of sql_interactive, the runs that began with subq_scalar or
    # join_semi had the slowest cold passes, up to 38% slower, and slower
    # warm passes). Each warm pass issues the keys in its own seeded order.
    rng = random.Random(a.seed)
    passes = [list(work["keys"])] + [rng.sample(work["keys"], len(work["keys"]))
                                     for _ in range(warm)]

    cpu0 = cpu_times()
    # setup and the cold pass take about 40 s; the warm passes about --seconds
    timeout_s = 90 + 2 * a.seconds
    spawn_ms, detail, left = run_jvm(classes, jars, data, passes, a.trace, timeout_s)
    cpu1 = cpu_times()
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])

    runs = detail["runs"]
    failures = check_outputs(runs, expected)
    if a.trace:
        spans = build_spans(detail, spawn_ms)
        metrics = per_layer(detail, spans, spawn_ms, detail["env"]["cores"], left)
        metrics["host.steal_frac"] = (steal, "ratio")
        extra = {}
    else:
        warm = [p["pass"] for p in detail["passes"] if p["pass"] > 0]
        spans = None
        metrics, extra = end_to_end(detail, spawn_ms, warm)

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    env = dict(detail["env"], xmx=HEAP, nproc=os.cpu_count(), host_steal_frac=steal,
               data="sf0.1 bench fixture (seed 42), perfbench/data/sf0.1", log_levels="WARN + graft.Logs.quietNoisy")
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "passes_order": passes, "env": env, "passes": detail["passes"], **extra,
        "warmup_tables_s": detail["warmup_tables"],
        "failed_frac": len(failures) / len(runs), "failures": failures,
        "metrics": metrics, "runs": runs, "spans": spans,
    }
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    res = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(res, "w") as f:
        json.dump(record, f)

    for k, p, why in failures[:10]:
        print(f"perfbench: FAILED {k} (pass {p}): {why}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} keys={len(work['keys'])} "
          f"passes={len(detail['passes'])} attempted={len(runs)} failed={len(failures)} "
          f"steal={steal:.3f} record={os.path.relpath(res, ROOT)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(runs),
        "failed": len(failures),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
