"""Parse Spark ``explain`` output into checkable facts.

Works on the *final* physical plan string.  With AQE enabled the
initial plan may still show placeholder exchanges; for plan-shape
assertions we read the pre-execution formatted plan — broadcast hints,
pushdown, and scan pruning are all decided there, and AQE only ever
removes work (coalesces partitions, upgrades to broadcast).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The ``df.explain(mode)`` text as a string instead of stdout.

    Uses the same JVM helper PySpark's ``DataFrame.explain`` prints
    from; there is no public capture API.
    """
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode  # noqa: SLF001
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters: [...]`` entry across the plan's scans."""
    plan = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Every ``ReadSchema`` struct string (one per file scan)."""
    plan = explain_str(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def shuffle_count(df: DataFrame) -> int:
    """Number of distinct Exchange nodes (shuffles) in the plan.

    Formatted mode numbers each operator once, so reused exchanges
    (one hash-partition feeding several window specs) count once —
    the number that matters for wall-clock at scale.
    """
    plan = explain_str(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan)) + len(
        re.findall(r"\(\d+\) ShuffleExchange", plan)
    )


def _status_store_stages(spark) -> list:
    """Completed-stage rows from the JVM AppStatusStore — the data the
    UI/REST API serves, but available with the UI disabled (the store
    always backs the listener bus).  Scala default args aren't applied
    through py4j, so fetch each ``stageList$default$N`` explicitly."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    args = [
        getattr(store, f"stageList$default${i}")() for i in range(2, 6)
    ]
    seq = store.stageList(None, *args)
    out = []
    it = seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def measured_shuffle_write_bytes(df_or_build, spark=None) -> int:
    """EXECUTE a query (noop sink) and return the total shuffle-write
    bytes its stages actually moved — measured, not inferred from the
    plan.  This is the regression gate :func:`shuffle_count` can't be:
    a plan can look one-shuffle and still push the whole table through
    that one exchange.

    Pass a ZERO-ARG CALLABLE (plus ``spark``) for queries that do
    eager work while being built (iterative loops, collect-backed
    literals, localCheckpoint) — the build then runs INSIDE the
    measurement window; a bare DataFrame measures only its own
    execution.  Stages are attributed by stage-id watermark
    (single-threaded test usage only)."""
    import time

    if callable(df_or_build):
        assert spark is not None, "pass spark with a build callable"
    else:
        spark = df_or_build.sparkSession
    before = max(
        (s.stageId() for s in _status_store_stages(spark)), default=-1
    )
    df = df_or_build() if callable(df_or_build) else df_or_build
    df.write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    try:  # flush the async listener bus so late metrics are counted
        sc.listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(0.5)
    return sum(
        s.shuffleWriteBytes()
        for s in _status_store_stages(spark)
        if s.stageId() > before
    )


def assert_has_node(df: DataFrame, node: str) -> None:
    plan = explain_str(df)
    assert node in plan, f"expected {node!r} in physical plan:\n{plan}"


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = shuffle_count(df)
    assert got <= n, (
        f"plan has {got} shuffles, budget is {n}:\n{explain_str(df)}"
    )
