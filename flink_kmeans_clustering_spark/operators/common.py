"""Shared operator utilities."""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def session_conf(spark: SparkSession, settings: Mapping[str, str]) -> Iterator[None]:
    """Set session conf keys for the duration of a ``with`` block.

    On every exit path each key goes back to exactly its prior state:
    the earlier explicit value, or unset if the session never set it
    (``conf.get(key, None)`` is ``None`` for an unset key, even one
    with a built-in default).  Iterative operators use this for their
    loop-local AQE / shuffle-width / codegen settings so a caller's
    session is never left with a value it did not choose.
    """
    conf = spark.conf
    prior = {key: conf.get(key, None) for key in settings}
    try:
        for key, value in settings.items():
            conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)


def spread(df: DataFrame, key: str) -> DataFrame:
    """Rebalance a skinny scan before per-row heavy compute.

    A corpus packed into few parquet files yields few input partitions,
    which would serialize per-row hashing/tokenization onto a handful of
    cores (observed 20s+ single-task stages at bench scale).  If the
    scan has fewer partitions than the cluster has slots, hash-partition
    by ``key`` first — the shuffle moves only the raw input once, and
    every later stage keyed on it reuses the partitioning.  Inputs that
    already have enough splits (the 100 TB case) pass through untouched.

    Parallelism probe (r14 optimization, gate tightened per ADVICE
    r14): ``df.rdd.getNumPartitions()`` converts the plan to an RDD —
    a full analyze+physical-plan pass per call (~0.1-0.4 s of driver
    time on the bigger lineages, paid by EVERY spread site in a
    query).  ``inputFiles()`` answers the same under-parallel question
    from the scan's file listing, but a raw file count over-estimates
    scan parallelism: Spark PACKS small files into splits (each split
    holds up to ``maxPartitionBytes``, every file charged at least
    ``openCostInBytes``), so a many-tiny-files corpus — the classic
    under-parallel case this helper exists for — can have
    ``len(inputFiles()) >= target`` yet plan far fewer partitions.
    The cheap skip therefore requires ``files >= target * (files per
    split cap)``: a split can hold at most
    ``floor(maxPartitionBytes / openCostInBytes) + 1`` files no matter
    how small they are, so that many files GUARANTEES >= target scan
    partitions with zero size lookups.  Anything between falls through
    to the exact RDD probe (plan-sized cost, correct answer).  Either
    branch is performance-only — results are partition-independent by
    operator contract.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        n_files = len(files)
        max_pb = _bytes_conf(
            spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
        )
        open_cost = _bytes_conf(
            spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
        )
        # a split holds at most floor(maxPB/openCost)+1 files however
        # small they are — this many files guarantees >= target splits
        # with zero size lookups (the 100 TB fast path)
        per_split_cap = max_pb // max(open_cost, 1) + 1
        if n_files >= target * per_split_cap:
            return df
        # local files: a conservative packed-split LOWER bound from the
        # real sizes (every split's cost is <= maxPB + openCost, so
        # total_cost / (maxPB + openCost) never over-counts) — catches
        # the few-big-files case without the plan-to-RDD conversion
        if 0 < n_files <= 8192 and all(
            f.startswith("file:") or f.startswith("/") for f in files
        ):
            from urllib.parse import urlparse as _urlparse
            from urllib.request import url2pathname as _url2path

            total = sum(
                os.path.getsize(
                    _url2path(_urlparse(f).path) if ":" in f else f
                )
                for f in files
            )
            lower_splits = (total + n_files * open_cost) // (
                max_pb + open_cost
            )
            if lower_splits >= target:
                return df
    except Exception:
        pass
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def _bytes_conf(spark, key: str, default: int) -> int:
    """A byte-size conf value as int bytes (handles '134217728b',
    '128m', '1g' spellings); ``default`` when unset/unparseable."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suffix, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("b", 1), ("k", 1024), ("m", 1024**2), ("g", 1024**3),
        ("t", 1024**4),
    ):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return default


def fresh_name(name: str, taken: Sequence[str]) -> str:
    """``name``, underscore-prefixed until no column of ``taken`` has it
    (Spark resolves column names case-insensitively)."""
    lowered = {c.lower() for c in taken}
    while name.lower() in lowered:
        name = "_" + name
    return name


def quote_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def array_lit_sql(nested, kind: str = "double") -> str:
    """Nested array literal as the text of ONE SQL expression.

    ``F.lit(nested_list)`` recurses in Python and makes a py4j call per
    LEAF — an 8×16×8 codebook literal costs ~1 s of driver round-trips,
    and an iterative trainer pays it EVERY iteration.  Rendering the
    same values as one ``array(array(...))`` SQL string and parsing it
    JVM-side is ~3 ms and bit-identical: ``repr(float)`` is the
    shortest round-tripping decimal form and both Python and the JVM
    parse such forms to the same IEEE-754 double (correctly-rounded
    semantics).  Callers author whole expressions as f-strings (the
    selectExpr plan-construction pattern — see docs/TUNING.md), so the
    literal sits INSIDE a larger string and the entire projection stays
    at ONE py4j call; ``F.expr(array_lit_sql(...))`` is the Column.

    ``kind``: "double" (default) suffixes leaves with ``D``; "int"
    renders integer leaves.  NaN/±Inf are
    rejected — they have no portable SQL literal form and no operator
    here ships them.
    """
    import math

    def render(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ",".join(render(v) for v in x) + ")"
        if kind == "double":
            v = float(x)
            if math.isnan(v) or math.isinf(v):
                raise ValueError(f"non-finite literal {v!r}")
            return repr(v) + "D"
        return str(int(x))

    return render(nested)
