"""Equality pins for the n-d K-Means kernels.

The n-d argmin and the lloyd_nd partial sums are one numpy kernel over
Arrow batches (functions.vector: nearest_codeword, label_sums); the
spherical iteration's DECIMAL sums are SQL text over its labels.  These
tests pin them, on real data, against independent references: a
pure-Python argmin, a pure-Python replay of the sums in the kernel's
fold order, and Column-composed replays of the update step.
"""

import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _nearest_python(vec, cents, ids):
    """Pure-Python n-d argmin: dist² folds (a - b) * (a - b) from 0.0 in
    index order, the smallest (dist², id) wins — lowest id on ties."""
    best = None
    for cid, c in zip(ids, cents):
        d2 = 0.0
        for a, b in zip(vec, c):
            d2 += (a - b) * (a - b)
        if best is None or (d2, cid) < best:
            best = (d2, cid)
    return best[1], best[0]


def test_assign_nd_sql_matches_python_reference(spark, emb):
    """assign_points_nd (the kernel in mapInArrow) and the kernel called
    directly on an Arrow batch of the same rows == a pure-Python
    reference, bit-for-bit: same cluster AND same dist² double for every
    row (the fold order and the strict-< lowest-id argmin must survive
    the vectorization)."""
    import numpy as np
    import pyarrow as pa

    from flink_kmeans_clustering_spark.functions.vector import (
        nearest_codeword,
        vector_block,
    )
    from flink_kmeans_clustering_spark.operators.kmeans import assign_points_nd

    vec = emb.select("vec_id", "embedding")
    data = vec.collect()
    init_rows = sorted(data, key=lambda r: r["vec_id"])[:8]
    cents = [[float(v) for v in r["embedding"]] for r in init_rows]
    ids = [3, 7, 11, 12, 20, 21, 30, 41]  # non-positional labels
    ref = {
        r["vec_id"]: _nearest_python(
            [float(v) for v in r["embedding"]], cents, ids
        )
        for r in data
    }

    op_form = assign_points_nd(
        vec, cents, dist2_col="_d2", centroid_ids=ids
    ).select("vec_id", "cluster", "_d2")
    got = {r["vec_id"]: (r["cluster"], r["_d2"]) for r in op_form.collect()}
    assert got == ref  # exact equality, doubles included

    col = pa.array([r["embedding"] for r in data], pa.list_(pa.float32()))
    values, _, whole, _ = vector_block(col, 64)
    cluster, d2 = nearest_codeword(
        values, whole, np.asarray(cents), np.asarray(ids, np.int32)
    )
    direct = {
        r["vec_id"]: (int(c), float(d)) for r, c, d in zip(data, cluster, d2)
    }
    assert direct == ref


def test_lloyd_nd_sql_iteration_matches_column_replay(spark, emb):
    """One lloyd_nd iteration (one mapInArrow stage: the kernel's
    per-partition sums, added on the driver) == (a) a pure-Python replay
    in the kernel's fold order — each partition's rows folded in row
    order from 0.0, partitions added in partition order — and (b) a
    replay through assign_points_nd (pinned against Python above) and
    Column-composed per-dim Spark SUMs: same surviving ids,
    bit-identical per-dim sums, driver-side means and WCSS."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )

    init_rows = emb.orderBy("vec_id").limit(8).collect()
    init = [[float(v) for v in r["embedding"]] for r in init_rows]
    vec = emb.select("vec_id", "embedding")

    # the shipped (kernel) loop, one iteration
    cents_new, wcss_new, ids_new = lloyd_nd(
        vec, init, max_iterations=1, cache=False
    )

    # (a) pure-Python replay in the kernel's fold order
    rows = vec.select(F.spark_partition_id().alias("p"), "embedding").collect()
    parts: dict = {}
    for r in rows:  # collect order: partition order, then row order
        parts.setdefault(r["p"], []).append([float(v) for v in r["embedding"]])
    ids8 = list(range(8))
    total: dict = {}
    for p in sorted(parts):
        acc: dict = {}
        for v in parts[p]:
            cid, _ = _nearest_python(v, init, ids8)
            n, s = acc.get(cid, (0, [0.0] * 64))
            acc[cid] = (n + 1, [a + x for a, x in zip(s, v)])
        for cid, (n, s) in acc.items():
            n0, s0 = total.get(cid, (0, None))
            total[cid] = (n0 + n, s if s0 is None else [a + b for a, b in zip(s0, s)])
    ids_py = sorted(total)
    cents_py = [[x / total[i][0] for x in total[i][1]] for i in ids_py]
    wcss_py = 0.0
    for p in sorted(parts):
        wp = 0.0
        for v in parts[p]:
            wp = wp + _nearest_python(v, cents_py, ids_py)[1]
        wcss_py = wcss_py + wp
    assert ids_new == ids_py
    assert cents_new == cents_py  # bit-identical doubles
    assert wcss_new == wcss_py

    # (b) Column-form replay of the same iteration: per-dim double SUMs
    # of the element-wise cast, then the mean array
    sums = [
        F.sum(F.element_at(F.col("embedding"), j + 1).cast("double")).alias(
            f"_s{j}"
        )
        for j in range(64)
    ]
    centroid = F.array(*[F.col(f"_s{j}") / F.col("n") for j in range(64)])
    a = assign_points_nd(vec, init)
    rows = (
        a.groupBy(F.col("cluster").alias("id"))
        .agg(*sums, F.count(F.lit(1)).alias("n"))
        .select("id", centroid.alias("centroid"), "n")
        .collect()
    )
    rows.sort(key=lambda r: r["id"])
    ids_old = [int(r["id"]) for r in rows]
    cents_old = [[float(v) for v in r["centroid"]] for r in rows]
    a2 = assign_points_nd(
        vec, cents_old, dist2_col="_d2", centroid_ids=ids_old
    )
    [w] = a2.agg(F.sum("_d2").alias("w")).collect()

    assert ids_new == ids_old
    assert cents_new == cents_old  # bit-identical doubles
    assert wcss_new == float(w["w"])


def test_spherical_sql_iteration_matches_column_replay(spark, emb):
    """One spherical iteration (kernel labels, SQL-text DECIMAL sums) ==
    the Column-form decimal-sum replay (unitization happens driver-side
    in both)."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        normalize_unit_nd,
        spherical_kmeans_nd,
    )

    init_rows = emb.orderBy("vec_id").limit(8).collect()
    init = [[float(v) for v in r["embedding"]] for r in init_rows]
    vec = emb.select("vec_id", "embedding")

    cents_new, ids_new = spherical_kmeans_nd(
        vec, init, max_iterations=1, cache=False
    )

    # Column-form replay
    import math

    def unitize(c):
        s = 0.0
        for x in c:
            s += x * x
        if s <= 0:
            return None
        n = math.sqrt(s)
        return [float(x) / n for x in c]

    unit = normalize_unit_nd(vec.select("*"))
    cur = [u for u in (unitize(c) for c in init) if u]
    ids = list(range(len(cur)))
    sums = [
        F.sum(
            F.element_at(F.col("embedding"), j + 1)
            .cast("double")
            .cast("decimal(25,8)")
        ).alias(f"_s{j}")
        for j in range(64)
    ]
    a = assign_points_nd(unit, cur, centroid_ids=ids)
    rows = (
        a.groupBy(F.col("cluster").alias("id"))
        .agg(*sums, F.count(F.lit(1)).alias("n"))
        .collect()
    )
    rows.sort(key=lambda r: r["id"])
    ids_old, cents_old = [], []
    for r in rows:
        mu = [float(r[f"_s{j}"]) / r["n"] for j in range(64)]
        u = unitize(mu)
        if u is not None:
            ids_old.append(int(r["id"]))
            cents_old.append(u)

    assert ids_new == ids_old
    assert cents_new == cents_old
