"""Per-layer tracing from outside the engine.

The benchmark wraps each public engine call it makes in a span.  A span
sets the Spark job description to its own tag for the duration of the
call, so every job (and every stage and task of that job) the call
triggers carries the tag in the Spark event log.  Spans stay in memory;
after the session stops, the event log is parsed and each span's
counters are derived from the job and task records that carry its tag.

Spark is lazy, so a span owns the jobs its call *triggers*, not the
work its result describes: pair generation of ``minhash_lsh_pairs``
runs inside ``connected_components``' ``localCheckpoint``, and the
corpus scan of ``dedup_corpus`` runs inside ``write_partitioned``.
Calls that only build a plan read as zero jobs; ``load_table`` is not
one of them, since Spark infers the parquet schema with a small job.

Counters per span (times in seconds, sizes in MB of 10^6 bytes):

* ``wall_s`` — span duration.  Benchmark spans do not nest, so self
  time equals wall time and is not reported separately.
* ``jobs``, ``tasks`` — Spark jobs and finished tasks tagged by the span.
* ``exec_run_s``, ``exec_cpu_s``, ``gc_s`` — summed task executor run
  time, executor CPU time and JVM GC time.  In local mode every task
  sees the GC of the one shared JVM, so ``gc_s`` over-counts GC that
  overlaps several tasks.
* ``shuffle_write_mb``, ``shuffle_read_mb`` — summed task shuffle bytes.
* ``driver_only_s`` — span wall time covered by none of its jobs'
  submission-to-completion intervals: py4j plan building, analysis and
  driver loops.
* ``slot_busy_frac`` — ``exec_run_s / (wall_s * cores)``.
* ``superstep_s`` (iterative spans only) — median interval between
  consecutive job submissions inside the span; each Lloyd superstep
  submits one job, so this is the per-superstep cost including its
  driver-side planning.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

TAG = "perfbench"

# Spans whose call triggers Spark jobs get the full counter set; spans
# whose call triggers none (zero jobs by construction) report wall_s.
# per_layer reports a PLAN_SPANS call that triggered a job as a failure.
JOB_SPANS = (
    "sources.csv.read_centroids_csv",
    "sources.parquet.load_table",  # parquet schema inference runs a job
    "operators.kmeans.lloyd",
    "sinks.csv.write_csv_single",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.connected_components",
    "sinks.parquet.write_partitioned",
    "operators.kmeans.lloyd_nd",
    "operators.similarity.ivf_knn_join",
)
PLAN_SPANS = (
    "session.get_spark",
    "sources.csv.read_points_csv",
    "operators.dedup.dedup_corpus",
    "operators.kmeans.assign_points_nd",
)
COUNTERS = (
    "wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "driver_only_s", "slot_busy_frac",
)
SUPERSTEP_SPANS = ("operators.kmeans.lloyd", "operators.kmeans.lloyd_nd")
EXTRAS = (
    "operators.kmeans.lloyd.superstep_s",
    "operators.kmeans.lloyd_nd.superstep_s",
    "operators.dedup.minhash_lsh_pairs.pairs_out",
    "trace.job_s_traced",
    "trace.job_s_untraced",
    "trace.overhead_s",
)
UNITS = {
    "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "slot_busy_frac": "ratio", "pairs_out": "count",
}


def per_layer_names() -> list[str]:
    names = [f"{s}.{c}" for s in JOB_SPANS for c in COUNTERS]
    names += [f"{s}.wall_s" for s in PLAN_SPANS]
    return names + list(EXTRAS)


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[1], "s")


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.job = -1
        self.spans: list[dict] = []
        self.last_pairs = None  # dedup pair plan, for the traced pair count

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tag = f"{TAG}:{len(self.spans)}:{name}"
        if self.sc is not None:
            self.sc.setJobDescription(tag)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            if self.sc is not None:
                self.sc.setJobDescription(None)
            self.spans.append({"tag": tag, "name": name, "job": self.job,
                               "start": start, "end": start + wall, "wall": wall})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> tuple[dict, list]:
    """(jobs by tag, tasks by tag) from the one finished event log."""
    [path] = [p for p in glob.glob(os.path.join(log_dir, "*"))
              if not p.endswith(".inprogress")]
    jobs: dict[str, list] = {}
    tasks: dict[str, list] = {}
    job_tag: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_tag: dict[tuple, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.job.description")
                if tag and tag.startswith(TAG + ":"):
                    job_tag[ev["Job ID"]] = tag
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_tag:
                    jobs.setdefault(job_tag[jid], []).append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                tag = (ev.get("Properties") or {}).get("spark.job.description")
                info = ev["Stage Info"]
                if tag and tag.startswith(TAG + ":"):
                    stage_tag[(info["Stage ID"], info["Stage Attempt ID"])] = tag
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics")
                if tag is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                tasks.setdefault(tag, []).append((
                    m.get("Executor Run Time", 0) / 1e3,
                    m.get("Executor CPU Time", 0) / 1e9,
                    m.get("JVM GC Time", 0) / 1e3,
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
                    (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6,
                ))
    return jobs, tasks


def _covered(intervals: list[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def span_counters(span: dict, jobs: list, tasks: list) -> dict:
    """Counters of one span from its tagged jobs and tasks, plus the
    intervals between its consecutive job submissions."""
    wall = span["wall"]
    starts = sorted(j[0] for j in jobs)
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "tasks": len(tasks),
        "exec_run_s": sum(t[0] for t in tasks),
        "exec_cpu_s": sum(t[1] for t in tasks),
        "gc_s": sum(t[2] for t in tasks),
        "shuffle_write_mb": sum(t[3] for t in tasks),
        "shuffle_read_mb": sum(t[4] for t in tasks),
        "driver_only_s": max(0.0, wall - _covered(jobs, span["start"], span["end"])),
        "intervals": [b - a for a, b in zip(starts, starts[1:])],
    }


def per_layer(spans: list[dict], log_dir: str, cores: int,
              jobs_included: set[int]) -> tuple[dict[str, float], list[str]]:
    """Median over the included benchmark jobs of each span's counters;
    spans called several times in one job (the three CSV sinks) are
    summed within the job first.  Spans the workload never calls read 0.
    Also returns one message per PLAN_SPANS call that did trigger a
    Spark job, since only wall_s of such a span is reported."""
    jobs, tasks = read_event_log(log_dir)
    by_job: dict[tuple, dict] = {}
    misclassed = [f"span {s['name']} is classed as plan-only but triggered "
                  f"{len(jobs[s['tag']])} Spark job(s)"
                  for s in spans if s["name"] in PLAN_SPANS and jobs.get(s["tag"])]
    for s in spans:
        if s["job"] not in jobs_included:
            continue
        c = span_counters(s, jobs.get(s["tag"], []), tasks.get(s["tag"], []))
        acc = by_job.setdefault((s["name"], s["job"]), {})
        for k, v in c.items():
            acc[k] = acc[k] + v if k in acc else v
    series: dict[str, list] = {}
    for (name, _), c in by_job.items():
        c["slot_busy_frac"] = c["exec_run_s"] / (c["wall_s"] * cores) if c["wall_s"] else 0.0
        for k in COUNTERS:
            series.setdefault(f"{name}.{k}", []).append(c[k])
        if name in SUPERSTEP_SPANS and c["intervals"]:
            series.setdefault(f"{name}.superstep_s", []).append(
                statistics.median(c["intervals"]))
    layer = {name: float(statistics.median(series[name])) if name in series else 0.0
             for name in per_layer_names()
             if not name.startswith("trace.") and not name.endswith(".pairs_out")}
    return layer, misclassed
