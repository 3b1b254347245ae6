"""Benchmark of the spark-kmeans-engine: three seeded closed-loop workloads.

    python3 perfbench/run.py --workload kmeans_csv_job --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  One driver process submits each job
only after the previous one has completed, on ``local[<cores>]``.
``--trace 0`` prints every end-to-end metric; ``--trace 1`` prints the
per-layer metrics of a traced run and the tracing overhead.  The last
line of standard output is the JSON result; the lines before it are a
readable report and the environment stamp.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.gen import WORKLOADS  # noqa: E402

# (name, unit, better) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("job_s", "s", "lower"),
    ("cold_job_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("success_rate", "ratio", "higher"),
    ("recall_at_10", "ratio", "higher"),
    ("dup_recall", "ratio", "higher"),
    ("clean_keep_rate", "ratio", "higher"),
)


# Warm jobs run after the cold job and before the timed loop.  A fresh
# JVM is still compiling hot code through its first warm jobs (on a
# 4-vCPU VM dedup's read 5.1, 4.4, 3.6, 3.5, 3.3 s in turn, then held),
# so job_s starts where the walls have levelled off.  Retrieval's first
# warm job is already as fast as its second (7.8, 7.8, 7.1, 7.0 s).
WARMUP_JOBS = {"kmeans_csv_job": 1, "dedup_minhash_cc": 2, "ivf_retrieval": 0}


def median(xs):
    return float(statistics.median(xs)) if xs else None


def closed_loop(workload: str, spark, data: str, tr, exp: dict, seconds: float,
                recs: list) -> list[float]:
    """Run jobs back to back for ``seconds`` (at least one attempt);
    return the wall times of the accepted ones."""
    walls = []
    end = time.perf_counter() + seconds
    while True:
        tr.job += 1
        r = harness.run_job(workload, spark, data, tr, exp)
        recs.append(r)
        if r["ok"]:
            walls.append(r["wall_s"])
        if time.perf_counter() >= end:
            return walls


def prepare(workload: str, seed: int, size: str) -> tuple[str, dict, dict]:
    """Generate (or reuse) the inputs and compute the oracle's
    expectation; neither is timed, and the peak-RSS counter restarts
    afterwards."""
    from perfbench import gen, oracles

    data = gen.generate(os.path.join(harness.WORK, "data"), workload, seed, size)
    exp = oracles.EXPECT[workload](data)
    harness.reset_peak_rss()
    return data, exp, gen.load_meta(data)


def java_version(spark) -> str:
    return spark.sparkContext._jvm.java.lang.System.getProperty("java.version")


def untraced(workload: str, seed: int, size: str, seconds: float) -> tuple[dict, list, dict]:
    """One fresh process: set-up (process start until ``get_spark`` has
    returned and a trivial job has run), one cold job, the warm-up jobs,
    then warm jobs for ``seconds``.  Every job is checked by the oracle."""
    from perfbench import oracles
    from perfbench.trace import Tracer
    from perfbench.workloads import input_rows

    spark = harness.session("perfbench")
    harness.trivial_job(spark)
    setup = harness.process_age_s()
    data, exp, meta = prepare(workload, seed, size)
    tr = Tracer(False)
    recs = [harness.run_job(workload, spark, data, tr, exp)]
    cold = recs[0]["wall_s"] if recs[0]["ok"] else None
    recs += [harness.run_job(workload, spark, data, tr, exp)
             for _ in range(WARMUP_JOBS[workload])]
    warm = closed_loop(workload, spark, data, tr, exp, seconds, recs)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss = harness.peak_rss_mb(jvm_pid) + harness.peak_rss_mb()
    java = java_version(spark)
    spark.stop()
    job_s = median(warm)
    ok = [r["quality"] for r in recs if r["ok"]]
    metrics = {
        "setup_s": setup,
        "job_s": job_s,
        "cold_job_s": cold,
        "rows_per_s": input_rows(workload, meta) / job_s if job_s else None,
        "peak_rss_mb": rss,
        "success_rate": sum(r["ok"] for r in recs) / len(recs),
        **{q: median([x[q] for x in ok]) for q in oracles.QUALITY},
    }
    return metrics, recs, {"java": java, "digest": exp.get("digest"),
                           "samples": {"job_s": len(warm), "warm_s": warm}}


def traced(workload: str, seed: int, size: str, seconds: float) -> tuple[dict, list, dict]:
    """Traced session (event log and spans on) for half the time, then
    an untraced session in the same process for the other half; the
    difference of their warm job_s medians is the tracing overhead.  The
    first job of each session is a warm-up, left out of the medians."""
    import shutil

    from perfbench import trace

    log_dir = os.path.join(harness.WORK, "eventlog", str(os.getpid()))
    shutil.rmtree(log_dir, ignore_errors=True)
    tr = trace.Tracer(True)
    with tr.span("session.get_spark"):
        spark = harness.session("perfbench-traced", log_dir)
    tr.sc = spark.sparkContext
    harness.trivial_job(spark)
    data, exp, _ = prepare(workload, seed, size)
    tr.job = 0
    recs = [harness.run_job(workload, spark, data, tr, exp)]
    traced_walls = closed_loop(workload, spark, data, tr, exp, seconds / 2, recs)
    pairs_out = 0
    if workload == "dedup_minhash_cc":
        pairs_out = tr.last_pairs.count()  # untagged: outside every span
    java = java_version(spark)
    spark.stop()
    included = {-1} | {j for j in range(1, len(recs)) if recs[j]["ok"]}
    layer, misclassed = trace.per_layer(tr.spans, log_dir, harness.cores(), included)
    recs += [{"ok": False, "wall_s": None, "reason": m, "quality": None} for m in misclassed]
    tr.dump(os.path.join(harness.WORK, "results", f"spans-{os.getpid()}.json"))
    shutil.rmtree(log_dir, ignore_errors=True)

    spark = harness.session("perfbench-untraced")
    off = trace.Tracer(False)
    # the first job of a new session re-plans and re-broadcasts from
    # scratch even in a warm JVM: a warm-up, like the traced cold job
    recs.append(harness.run_job(workload, spark, data, off, exp))
    untraced_walls = closed_loop(workload, spark, data, off, exp, seconds / 2, recs)
    spark.stop()
    t_on, t_off = median(traced_walls), median(untraced_walls)
    layer["operators.dedup.minhash_lsh_pairs.pairs_out"] = float(pairs_out)
    layer["trace.job_s_traced"] = t_on
    layer["trace.job_s_untraced"] = t_off
    layer["trace.overhead_s"] = t_on - t_off if t_on and t_off else None
    samples = {"job_s_traced": len(traced_walls), "job_s_untraced": len(untraced_walls)}
    return layer, recs, {"java": java, "digest": exp.get("digest"), "samples": samples}


def env_stamp(seed: int, size: str, load_start: float, ticks_start: tuple[int, int],
              extra: dict) -> dict:
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(harness.ROOT, "flink_kmeans_clustering_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=harness.ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    steal, total = (b - a for a, b in zip(ticks_start, harness.cpu_ticks()))
    return {
        "nproc": os.cpu_count(), "cores_used": harness.cores(),
        "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
        "cpu_steal_frac": steal / total if total else None,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": extra["java"], "commit": commit, "source_sha256": src.hexdigest()[:16],
        "seed": seed, "size": size, "kept_ids_sha256": extra["digest"],
        "samples": extra["samples"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args(argv)
    if not harness.engine_available():
        print("perfbench: the engine package flink_kmeans_clustering_spark is not "
              "next to perfbench/; run from the root of a full checkout", file=sys.stderr)
        return 2
    harness.configure_env()
    load_start, ticks_start = os.getloadavg()[0], harness.cpu_ticks()
    os.makedirs(os.path.join(harness.WORK, "results"), exist_ok=True)
    jvm_pid = None
    try:
        if a.trace:
            from perfbench.trace import per_layer_names, unit_of

            metrics, recs, extra = traced(a.workload, a.seed, a.size, a.seconds)
            units = {n: unit_of(n) for n in per_layer_names()}
        else:
            metrics, recs, extra = untraced(a.workload, a.seed, a.size, a.seconds)
            units = {n: u for n, u, _ in END_TO_END}
    finally:
        jvm_pid = harness.stop_jvm()
    env = env_stamp(a.seed, a.size, load_start, ticks_start, extra)
    env["jvm_pid"] = jvm_pid
    failed = [r for r in recs if not r["ok"]]
    for r in failed:
        print(f"REJECTED: {r['reason'].strip()}")
    for name, unit in units.items():
        print(f"{name:52s} {metrics[name]!s:>24} {unit}")
    print("env " + json.dumps(env))
    result = {
        "correct": not failed and all(v is not None for v in metrics.values()),
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }
    with open(os.path.join(harness.WORK, "results",
                           f"{a.workload}-{a.size}-s{a.seed}-t{a.trace}-{os.getpid()}.json"), "w") as f:
        json.dump({"result": result, "env": env,
                   "rejected": [r["reason"] for r in failed]}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
