"""Edge-case pins for the n-d nearest-codeword kernel behind
``assign_points_nd`` and ``lloyd_nd``.

Each case is compared with a pure-Python reference that spells the
semantics out:

* a row is *whole* when its vector is non-null, has exactly ``d``
  elements and no null element.  Only a whole row has a dist²; every
  other row (null, empty, short, long, null-element) has a NULL dist²
  for every codeword, so it takes the lowest codeword id and still
  counts in its cluster's ``n``;
* dist² folds ``(a - b) * (a - b)`` from 0.0 in index order, over the
  elements widened to double;
* the argmin follows Spark's ordering of doubles: NaN sorts above +inf,
  and ties go to the lowest codeword id (not the lowest position);
* a cluster's per-dim sum adds every element that is present and
  non-null at that index; the mean divides it by ``n``.

The inputs use values whose sums are exact, so the partition order of a
sum cannot move a bit and the comparisons are exact.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from flink_kmeans_clustering_spark.operators.common import session_conf

NAN, INF = float("nan"), float("inf")
CENTS = [[0.0, 0.0], [5.0, 5.0], [1.0, 2.0]]
IDS = [9, 4, 6]  # neither positional nor sorted: the lowest id is position 1


def _fold(vec, c):
    acc = 0.0
    for a, b in zip(vec, c):
        acc = acc + (a - b) * (a - b)
    return acc


def _whole(vec, d):
    return vec is not None and len(vec) == d and all(v is not None for v in vec)


def _order(d2):
    """Spark's ascending order of a nullable double: NULL, numbers, NaN."""
    if d2 is None:
        return (0, 0.0)
    if math.isnan(d2):
        return (2, 0.0)
    return (1, d2)


def ref_assign(vec, cents, ids):
    """(cluster, dist²) of one vector."""
    whole = _whole(vec, len(cents[0]))
    best = None
    for cid, c in zip(ids, cents):
        d2 = _fold([float(v) for v in vec], c) if whole else None
        if best is None or (_order(d2), cid) < (_order(best[1]), best[0]):
            best = (cid, d2)
    return best


def ref_lloyd(vecs, init, iterations):
    """Pure-Python lloyd_nd: (centroids by id, wcss, surviving ids)."""
    d = len(init[0])
    cents, ids = [list(c) for c in init], list(range(len(init)))
    for _ in range(iterations):
        groups: dict[int, list] = {}
        for vec in vecs:
            cid, _ = ref_assign(vec, cents, ids)
            n, s = groups.get(cid, (0, [0.0] * d))
            if vec is not None:
                s = [
                    acc + float(vec[j]) if j < len(vec) and vec[j] is not None else acc
                    for j, acc in enumerate(s)
                ]
            groups[cid] = (n + 1, s)
        ids = sorted(groups)
        cents = [[v / groups[i][0] for v in groups[i][1]] for i in ids]
    wcss = 0.0
    for vec in vecs:
        _, d2 = ref_assign(vec, cents, ids)
        if d2 is not None:
            wcss = wcss + d2
    return cents, wcss, ids


def _same(a, b):
    """Bit-for-bit equality of nullable doubles (NaN equals NaN)."""
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


ASSIGN_ROWS = [
    (0, [1.0, 2.0]),          # exact match of id 6
    (1, None),                # null vector
    (2, []),                  # empty
    (3, [1.0]),               # short
    (4, [1.0, 2.0, 3.0]),     # long
    (5, [1.0, None]),         # null element
    (6, [NAN, 1.0]),          # NaN element: NaN for every codeword
    (7, [INF, 0.0]),          # +inf for every codeword
    (8, [2.5, 0.0]),          # tie between id 9 (0,0) and id 6 (1,2): id 6
    (9, [3.0, 3.5]),          # tie between id 6 (1,2) and id 4 (5,5): id 4
    (10, [0.5, 0.25]),
    (11, [1e200, 0.0]),       # (1e200)² overflows: +inf for every codeword
]


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("elem", ["double", "float"])
def test_assign_nd_edge_cases_match_python_reference(spark, ansi, elem):
    """Cluster and dist² of every edge-case row equal the reference:
    degenerate rows take the lowest id (4) with a NULL dist², NaN and
    inf rows take it with NaN / inf, and ties go to the lowest id."""
    from flink_kmeans_clustering_spark.operators.kmeans import assign_points_nd

    rows = [r for r in ASSIGN_ROWS if elem == "double" or r[0] != 11]
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
    with session_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        got = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in assign_points_nd(
                df, CENTS, dist2_col="d2", centroid_ids=IDS
            ).collect()
        }
    for vid, vec in rows:
        if elem == "float" and vec:
            vec = [None if v is None else float(np.float32(v)) for v in vec]
        want = ref_assign(vec, CENTS, IDS)
        assert got[vid][0] == want[0], (vid, got[vid], want)
        assert _same(got[vid][1], want[1]), (vid, got[vid], want)
    assert got[1] == (4, None) and got[8][0] == 6 and got[9][0] == 4
    assert got[6][0] == 4 and math.isnan(got[6][1])
    assert got[7] == (4, INF)


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_lloyd_nd_degenerate_rows_match_python_reference(spark, ansi):
    """Null, empty, short, long and null-element rows take the lowest
    id, count in its ``n`` and add the elements they have at indices
    below d; centroids, surviving ids and WCSS equal the pure-Python
    replay exactly, with ANSI on or off (the kernel reads no element
    out of bounds; the SQL form raised on a short vector under ANSI)."""
    from flink_kmeans_clustering_spark.operators.kmeans import lloyd_nd

    rows = [
        (0, [0.25, 0.5]), (1, [0.5, 0.0]), (2, [4.5, 5.0]), (3, [5.5, 4.75]),
        (4, [1.0, 2.25]), (5, [1.25, 1.75]), (6, [0.0, 0.25]),
        (20, None), (21, []), (22, [0.5]), (23, [0.5, 0.25, 7.0]), (24, [None, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = [[0.0, 0.0], [5.0, 5.0], [1.0, 2.0]]
    vecs = [v for _, v in rows]
    with session_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        for iters in (1, 2):
            got = lloyd_nd(df, init, max_iterations=iters)
            assert got == ref_lloyd(vecs, init, iters), iters


def test_lloyd_nd_float32_ties_and_retired_id_match_python_reference(spark):
    """float32 input widens exactly; a tie goes to the lower id; a
    duplicated init codeword never wins a row, so its cluster empties
    and its id is retired, not recycled."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )

    raw = [[0.1, 0.7], [0.3, 0.2], [3.3, 4.1], [4.4, 3.9], [2.0, 2.0], [0.2, 0.9]]
    df = spark.createDataFrame(
        list(enumerate(raw)), "vec_id long, embedding array<float>"
    )
    vecs = [[float(np.float32(v)) for v in r] for r in raw]
    init = [[0.0, 0.0], [0.0, 0.0], [4.0, 4.0]]  # id 1 duplicates id 0
    for iters in (1, 3):
        got = lloyd_nd(df, init, max_iterations=iters)
        want = ref_lloyd(vecs, init, iters)
        assert got == want, (iters, got, want)
        assert got[2] == [0, 2]
    cents, _, ids = got
    got = {
        r["vec_id"]: (r["cluster"], r["d2"])
        for r in assign_points_nd(
            df, cents, dist2_col="d2", centroid_ids=ids
        ).collect()
    }
    assert got == {i: ref_assign(v, cents, ids) for i, v in enumerate(vecs)}


def test_lloyd_nd_nan_element_raises_non_finite(spark):
    """A NaN element puts NaN into its cluster's mean; the next
    assignment refuses the non-finite codeword instead of carrying it."""
    from flink_kmeans_clustering_spark.operators.kmeans import lloyd_nd

    df = spark.createDataFrame(
        [(0, [0.0, 0.5]), (1, [NAN, 1.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="non-finite"):
        lloyd_nd(df, [[0.0, 0.0], [5.0, 5.0]], max_iterations=1)


# --- plan shape and leaks ---------------------------------------------------


def _jobs_and_stages(spark, run):
    """Run ``run()`` under a fresh job group: (its result, the stage
    count of each of its Spark jobs)."""
    import uuid

    sc = spark.sparkContext
    group = f"nd-kernel-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    return out, [len(tracker.getJobInfo(j).stageIds) for j in jobs]


def test_lloyd_nd_superstep_is_one_exchange_free_job(spark):
    """Each superstep is one Spark job of one stage (no Exchange), and
    the final WCSS is one more: iterations + 1 single-stage jobs (the
    first also fills the input cache)."""
    from flink_kmeans_clustering_spark.operators.kmeans import lloyd_nd

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    (_, _, ids), stages = _jobs_and_stages(
        spark, lambda: lloyd_nd(df, [[0.0, 0.0], [6.0, 2.0]], max_iterations=3)
    )
    assert ids == [0, 1]
    assert stages == [1, 1, 1, 1], stages


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize(
    "op", ["lloyd_nd", "assign_points_nd", "ivf_knn_join", "pq_codebooks_trained"]
)
def test_nd_operators_leave_no_cache_and_no_conf_change(spark, op):
    """lloyd_nd (with its default cache), a collected assign_points_nd,
    a collected ivf_knn_join and pq_codebooks_trained leave no
    persistent RDD behind and the session conf byte-identical; an input
    the caller cached stays cached through lloyd_nd."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )
    from flink_kmeans_clustering_spark.operators.similarity import (
        ivf_knn_join,
        pq_codebooks_trained,
    )

    df = spark.createDataFrame(
        [(i, i % 2, [float(i % 5), float(i % 3)]) for i in range(40)],
        "vec_id long, label int, embedding array<double>",
    )
    init = [[0.0, 0.0], [4.0, 2.0]]
    runs = {
        "lloyd_nd": lambda d: lloyd_nd(d, init, max_iterations=2),
        "assign_points_nd": lambda d: assign_points_nd(d, init, dist2_col="d2").collect(),
        "ivf_knn_join": lambda d: ivf_knn_join(
            d, d.limit(3).withColumnRenamed("vec_id", "query_id"), k=3, n_probe=1
        ).collect(),
        "pq_codebooks_trained": lambda d: pq_codebooks_trained(d, m=2, k=2, iters=1),
    }
    conf, rdds = dict(spark.conf.getAll), _persistent_rdds(spark)
    runs[op](df)
    assert _persistent_rdds(spark) == rdds
    assert dict(spark.conf.getAll) == conf
    if op != "lloyd_nd":
        return
    owned = df.cache()  # lloyd_nd leaves a cache its caller owns alone
    try:
        owned.count()
        cached = _persistent_rdds(spark)
        runs[op](owned)
        assert owned.is_cached and _persistent_rdds(spark) == cached
    finally:
        owned.unpersist()
