#!/usr/bin/env python3
"""Benchmark of the fraud-detection engine, run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md in this directory):
  query_fraud  fraud-analytics families of SparkEntry.queries
  serve_mix    graft.Serve under open-loop /score, /score/batch and polls

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (which writes the traced
run's end-to-end metrics to standard error, for the tracing overhead).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
from stats import geomean, median, open_loop, percentile, union_length  # noqa: E402

SF = 0.01
FRAUD = [
    "q01_pricing_summary", "q08_join_left", "q13_target_encoding", "q14_json_extract",
    "q20_cum_features", "q24_sessionize", "q26_time_split",
    "q30_time_features", "q32_risk_score", "q40_confusion",
]
# query_fraud runs WARMUP_ROUNDS untimed rounds, then a fixed number of
# timed whole rounds: one per ROUND_S seconds of --seconds (about the
# length of one round on the reference box) and at least 3, so each
# per-query median is the middle of 3 or more samples however fast the
# host is.
WARMUP_ROUNDS = 2
ROUND_S = 5.0
# serve_mix traffic over the --seconds timed region (README "serve_mix
# traffic" says where each figure comes from): open-loop /score at RATE
# req/s from a pool of POOL seeded transactions, /score/batch of
# BATCH_SIZE at BATCH_RATE req/s, and the polls that polls() lists.
POOL = 1000
RATE = 400
BATCH_SIZE, BATCH_RATE = 100, 4.0
WARM_S = 3.0                         # untimed back-to-back warm-up on every connection
N_TRAIN = 5000


def polls(seconds):
    """(offset s, path) of each poll: a liveness and a readiness probe of
    /health, each every 10 s and half a period apart, and a /stats scrape
    every 15 s."""
    health = [(t + k, "/health") for k in range(0, int(seconds) + 10, 10) for t in (2.5, 7.5)]
    stats = [(5.0 + k, "/stats") for k in range(0, int(seconds) + 15, 15)]
    return sorted(p for p in health + stats if p[0] < seconds)


JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


# Heap of the query JVM. The young generation has a fixed size, so peak
# RSS follows what the program keeps (old generation, metaspace, code,
# threads) rather than G1's pause-time-driven young sizing, which moved
# it by up to 30 % between identical runs.
HEAP = ["-Xmx2g", "-Xmn320m"]


def cpus():
    return len(os.sched_getaffinity(0))


def harness(wd, classpath, mode, **kv):
    kv.update(cpus=cpus(), tmp=os.path.join(wd, "tmp"), result=os.path.join(wd, "result.json"))
    os.makedirs(kv["tmp"], exist_ok=True)
    cmd = (["java"] + JVM_OPTS + HEAP + [f"-Djava.io.tmpdir={kv['tmp']}", "-cp", classpath,
                                  "perfbench.Harness", mode] +
           [f"{k}={v}" for k, v in kv.items()])
    # its own process group, so a hung run takes the server JVM down with it
    with open(os.path.join(wd, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=wd,
                             start_new_session=True)
        try:
            p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0 or not os.path.exists(kv["result"]):
        tail = open(os.path.join(wd, "harness.log")).read()[-4000:]
        raise SystemExit(f"harness failed (exit {p.returncode}):\n{tail}")
    with open(kv["result"]) as fh:
        return json.load(fh)


def spark_layers(trace, keep, wall_s, ops):
    """The Spark engine's share of `ops` operations that took `wall_s`
    seconds: over the jobs, tasks and query executions `keep` selects."""
    jobs = [(s / 1000.0, e / 1000.0) for l, s, e in trace["jobs"] if keep(l, s)]
    tasks = [t for t in trace["tasks"] if keep(t[0], t[1])]
    phases = [p for p in trace["phases"] if keep(p[0], p[1])]
    active = union_length(jobs)
    task_s = sum(t[2] for t in tasks) / 1000.0
    return {
        "spark.jobs": (len(jobs) / ops, "count"),
        "spark.tasks": (len(tasks) / ops, "count"),
        "spark.task_s": (task_s / ops, "s"),
        "spark.job_active_s": (active / ops, "s"),
        "spark.driver_only_s": ((wall_s - active) / ops, "s"),
        "spark.parallelism": (task_s / (active * cpus()) if active else 0.0, "ratio"),
        "spark.shuffle_mb": (sum(t[4] for t in tasks) / 2**20 / ops, "MiB"),
        "spark.gc_s": (sum(t[3] for t in tasks) / 1000.0 / ops, "s"),
        "catalyst.analysis_ms": (sum(p[2] for p in phases) / ops, "ms"),
        "catalyst.optimization_ms": (sum(p[3] for p in phases) / ops, "ms"),
        "catalyst.planning_ms": (sum(p[4] for p in phases) / ops, "ms"),
    }


def direct_layers(r):
    """The direct calls into single layers that every traced run makes."""
    times, extra = r["layer_times"], r["extra"]
    jobs = lambda name: sum(1 for l, _, _ in r["trace"]["jobs"] if l == f"x|{name}")
    return {
        "sources.synthetic_s": (times["synthetic"], "s"),
        "ml.leafboost_fit_s": (times["leafboost_fit"], "s"),
        "ml.leafboost_fit_jobs": (jobs("leafboost_fit"), "count"),
        "serve.register_s": (times["register"], "s"),
        "serve.inventory_ms": (times["inventory"] * 1000.0, "ms"),
        "serve.inventory_jobs": (jobs("inventory"), "count"),
        "serve.localscorer_us": (median(extra["localscorer_us"]), "us"),
        "operators.ann_build_s": (times["ann_build"], "s"),
        "serve.localann_search_us": (median(extra["localann_search_us"]), "us"),
    }


def write_pool(work, seed):
    pool = checks.make_pool(seed, POOL)
    path = os.path.join(work, "pool.jsonl")
    with open(path, "w") as fh:
        fh.writelines(json.dumps(t) + "\n" for t in pool)
    return pool, path


def query_workload(work, cp, seed, seconds, trace, names, t_setup):
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    datagen.generate(data, seed, SF)
    _, pool_file = write_pool(work, seed)
    rounds = max(3, round(seconds / ROUND_S))
    r = harness(work, cp, "queries", data=data, out=out, rounds=rounds, warmup=WARMUP_ROUNDS,
                trace=trace, queries=",".join(names), pool=pool_file, seed=seed, ntrain=N_TRAIN)
    execs = rounds * len(names)
    print(f"[queries] {WARMUP_ROUNDS} warm-up and {rounds} timed rounds of {len(names)} queries",
          file=sys.stderr)
    failed = sum(r["failed"].values())
    # output checks: one per query per run, outside the timed region
    wrong, missing = checks.oracle(data, out, names, r["oracle"], r["last_error"])
    for q, why in {**wrong, **missing}.items():
        print(f"[check] {q}: {why}", file=sys.stderr)
    # the untimed warm-up rounds' executions are operations too
    attempted = execs + WARMUP_ROUNDS * len(names) + len(names)
    failed += len(wrong) + len(missing)
    med = [median(ts) for ts in r["times"].values()]
    e2e = {
        "setup_s": (r["setup_end_ms"] / 1000.0 - t_setup, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MiB"),
        "latency_ms": (geomean(med) * 1000.0, "ms"),
        "batch_ms": (sum(med) * 1000.0, "ms"),
    }
    if not trace:
        return attempted, failed, not wrong, e2e
    wall = sum(sum(ts) for ts in r["times"].values())
    metrics = spark_layers(r["trace"], lambda l, t: l.startswith("q|"), wall, rounds)
    metrics["program.cpu_us_per_op"] = (r["cpu_s"] * 1e6 / execs, "us")
    metrics.update(direct_layers(r))
    print("[traced e2e] " + json.dumps(e2e), file=sys.stderr)
    return attempted, failed, not wrong, metrics


def serve_workload(work, cp, seed, seconds, trace, t_setup):
    pool, pool_file = write_pool(work, seed)
    data = os.path.join(work, "data")
    if trace:
        datagen.generate(data, seed, SF)
    opts = os.path.join(work, "jvm.opts")
    with open(opts, "w") as fh:
        fh.write("\n".join(JVM_OPTS) + "\n")
    r = harness(work, cp, "serve", pool=pool_file, work=work, seconds=seconds, trace=trace,
                data=data, seed=seed, ntrain=N_TRAIN, java=shutil.which("java"), cp=cp,
                jvmopts=opts, rate=RATE, batch_rate=BATCH_RATE, batch_size=BATCH_SIZE,
                polls=",".join(f"{t}:{p}" for t, p in polls(seconds)), warm_s=WARM_S)
    w = r["warmup"]
    scores = [r["score"], w["score"]]
    batch_logs = [w["batch"], r["batch"]]
    logs = scores + batch_logs + [w["poll"], r["poll"]]
    attempted = sum(len(lg["status"]) for lg in logs)
    failed = sum(1 for lg in logs for s in lg["status"] if s != 200)
    scored = sum(1 for lg in scores for s in lg["status"] if s == 200)
    batches = sum(1 for lg in batch_logs for s in lg["status"] if s == 200)
    bad = checks.serve(pool, r["twin"], r["bodies"], BATCH_SIZE,
                       r["final_stats"], scored + BATCH_SIZE * batches)
    for why in bad[:20]:
        print(f"[check] {why}", file=sys.stderr)
    attempted += 1  # the final /stats count
    failed += len(bad)

    latency, lateness = open_loop(r["score"])
    batch = open_loop(r["batch"])[0]
    poll = open_loop(r["poll"])[0]
    print(f"[loadgen] /score at {RATE} req/s: {len(latency)} samples, p50 {median(latency):.3f} ms, "
          f"p99 {percentile(latency, 99):.3f} ms, send lateness p99 "
          f"{percentile(lateness, 99):.3f} ms; /score/batch p50 {median(batch):.3f} ms; "
          f"polls {', '.join(f'{x:.0f}' for x in poll)} ms", file=sys.stderr)
    e2e = {
        "setup_s": (r["setup_end_ms"] / 1000.0 - t_setup, "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MiB"),
        "latency_ms": (median(latency), "ms"),
        "batch_ms": (median(batch), "ms"),
    }
    if not trace:
        return attempted, failed, not bad, e2e
    lo, hi = r["load_window_ms"]
    metrics = spark_layers(r["server_trace"], lambda l, t: lo <= t <= hi, sum(poll) / 1000.0, 1)
    load_ops = len(latency) + len(poll) + len(batch)
    metrics["program.cpu_us_per_op"] = (r["cpu_s"] * 1e6 / load_ops, "us")
    metrics.update(direct_layers(r))
    print("[traced e2e] " + json.dumps(e2e), file=sys.stderr)
    return attempted, failed, not bad, metrics


WORKLOADS = ("query_fraud", "serve_mix")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    cp = build.ensure(root)
    t_setup = time.time()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "serve_mix":
            res = serve_workload(work, cp, a.seed, a.seconds, a.trace, t_setup)
        else:
            res = query_workload(work, cp, a.seed, a.seconds, a.trace, FRAUD, t_setup)
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)
    attempted, failed, correct, metrics = res
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
