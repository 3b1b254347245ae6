"""Benchmark plumbing: the process environment that keeps every file
inside the checkout, the session factory, process clocks and memory
counters, and one timed, oracle-checked job."""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def engine_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("flink_kmeans_clustering_spark") is not None


def configure_env() -> None:
    """Point every scratch, shuffle and temp directory the engine, Spark
    and the JVM use at the work tree, pin the core count and cap the
    driver heap, so runs are comparable."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # every JVM (the spark-submit launcher too): temp files under the
        # work tree, and no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp


def session(app: str, event_log_dir: str | None = None):
    from flink_kmeans_clustering_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # builder options outlive a stopped session in the same process
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=app, extra_conf=conf)


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm(timeout: float = 60.0) -> int | None:
    """Stop the Spark session, then the JVM this process launched, and
    wait until it and every process under this one have ended; return
    the JVM's pid.  The JVM exits by itself once its stdin closes, but
    only some time after this process has gone; stopping it here means
    nothing outlives a run."""
    import signal
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    family = _descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end = time.monotonic() + timeout
    for pid in family:
        while _alive(pid):
            if time.monotonic() > end:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)
        try:
            os.waitpid(pid, os.WNOHANG)  # reap it if it is a child of ours
        except ChildProcessError:
            pass
    return proc.pid if proc is not None else None


def trivial_job(spark) -> None:
    spark.range(1).collect()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the
    generator's and oracles' set-up memory is not counted."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def run_job(workload: str, spark, data: str, tr, exp: dict) -> dict:
    """Run one job, time it, and check it against the oracle's
    expectation.  A job that raises or is rejected is reported, never
    re-raised."""
    from perfbench import oracles
    from perfbench.workloads import JOBS

    out = tempfile.mkdtemp(prefix="job_", dir=os.path.join(WORK, "tmp"))
    rec = {"ok": False, "wall_s": None, "reason": "", "quality": None}
    try:
        t0 = time.perf_counter()
        summary = JOBS[workload](spark, data, out, tr)
        rec["wall_s"] = time.perf_counter() - t0
        rec["ok"], rec["quality"], rec["reason"] = oracles.check(workload, exp, summary, out)
    except Exception:
        rec["reason"] = traceback.format_exc(limit=3)
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
    return rec
