"""Bounded drain of a streaming DataFrame for tests and oracles.

``trigger(availableNow=True)`` processes everything currently in the
source as a finite series of micro-batches, then stops — the canonical
way to run a streaming pipeline over bounded data and compare it with a
batch oracle.  Results land in a memory sink (driver-side table); fine
for test-scale output, never for production sinks (those write parquet/
Kafka with the same ``writeStream`` call).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame

from flink_kmeans_clustering_spark.operators.common import session_conf
from flink_kmeans_clustering_spark.scratch import scratch_dir

_QUERY_SEQ = itertools.count()


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain ``stream_df`` with availableNow into a memory sink.

    Returns the materialized result as a batch DataFrame.  The memory
    sink needs a unique query name per run; the checkpoint dir is a
    throwaway tempdir (a real deployment points this at durable storage
    to get exactly-once restarts).

    ``state_partitions`` overrides the stream's shuffle partitioning for
    this drain (session value restored afterwards).  Stateful operators
    materialize one state-store instance per shuffle partition, and the
    count is frozen into the checkpoint — real deployments size it to
    expected state volume before first start; ``None`` inherits the
    session setting.
    """
    spark = stream_df.sparkSession
    name = f"stream_result_{os.getpid()}_{next(_QUERY_SEQ)}"
    checkpoint = scratch_dir(f"ckpt_{name}_")
    drain_conf = (
        {}
        if state_partitions is None
        else {"spark.sql.shuffle.partitions": str(state_partitions)}
    )
    with session_conf(spark, drain_conf):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not query.awaitTermination(timeout_sec):
                raise TimeoutError(
                    f"streaming query {name} still running after {timeout_sec}s"
                )
        finally:
            if query.isActive:
                query.stop()
    return spark.table(name)


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    timeout_sec: int = 300,
    checkpoint: str | None = None,
) -> None:
    """Drain a stream through ``foreachBatch(batch_fn)`` (availableNow).

    ``foreachBatch`` is the production sink escape hatch: each
    micro-batch arrives as a *batch* DataFrame plus an epoch id, so any
    batch writer works — parquet appends, JDBC upserts, MERGE INTO —
    with exactly-once achievable by making the write idempotent on the
    epoch id.  The checkpoint guarantees each epoch is delivered at
    least once and in order.  Pass an explicit ``checkpoint`` to resume
    a previous drain (restart recovery — committed epochs are skipped,
    an uncommitted epoch is REDELIVERED with the same id).
    """
    name = f"stream_feb_{os.getpid()}_{next(_QUERY_SEQ)}"
    if checkpoint is None:
        checkpoint = scratch_dir(f"ckpt_{name}_")
    query = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(timeout_sec):
            raise TimeoutError(f"streaming query {name} still running after {timeout_sec}s")
    finally:
        if query.isActive:
            query.stop()
