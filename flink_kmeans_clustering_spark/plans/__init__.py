"""Physical-plan introspection and plan-shape assertions.

The reference delegates all physical planning to Flink's DataSet
optimizer and never inspects it (SURVEY.md §4).  On Spark we make the
planner's output a first-class, testable artifact: these helpers parse
``explain`` output so tests can pin the properties that matter at
100 TB — filters pushed into the parquet scan, pruned read schemas,
broadcast joins for small dimensions, bounded shuffle counts, and
top-k plans that never global-sort.

A plan regression (a filter that stops pushing down, a broadcast that
silently becomes a shuffle join) changes no sf0.01 answer but turns a
minutes job into an hours job at scale — exactly the class of bug the
correctness oracle can't see and these assertions can.
"""

from flink_kmeans_clustering_spark.plans.introspect import (
    assert_has_node,
    assert_max_shuffles,
    explain_str,
    measured_shuffle_write_bytes,
    pushed_filters,
    read_schemas,
    shuffle_count,
)

__all__ = [
    "assert_has_node",
    "assert_max_shuffles",
    "explain_str",
    "measured_shuffle_write_bytes",
    "pushed_filters",
    "read_schemas",
    "shuffle_count",
]
