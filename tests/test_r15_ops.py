"""Equality pins for the SQL-text n-d K-Means kernels.

The n-d argmin (assign_points_nd_sql) and the lloyd_nd / spherical
iterations are authored as SQL text (one parse per iteration instead of
~0.25 s of py4j Column composition).  These tests pin them, on real
data, against independent references: a pure-Python argmin, and
Column-composed replays of the update step.
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
    """assign_points_nd and its SQL text (assign_points_nd_sql, as the
    nd loops paste it into spark.sql) == a pure-Python reference,
    bit-for-bit: same cluster AND same dist² double for every row (the
    fold order and the strict-< struct argmin must survive the SQL
    authoring)."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        assign_points_nd_sql,
    )

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
    sql = assign_points_nd_sql(cents, centroid_ids=ids)
    view = "_t_assign_pin"
    vec.createOrReplaceTempView(view)
    try:
        sql_form = spark.sql(
            f"SELECT vec_id, ({sql}).cluster AS cluster, "
            f"({sql}).dist2 AS _d2 FROM {view}"
        )
        for df in (op_form, sql_form):
            got = {
                r["vec_id"]: (r["cluster"], r["_d2"]) for r in df.collect()
            }
            assert got == ref  # exact equality, doubles included
    finally:
        spark.catalog.dropTempView(view)


def test_lloyd_nd_sql_iteration_matches_column_replay(spark, emb):
    """One lloyd_nd SQL iteration == a replay through assign_points_nd
    (pinned against Python above) and Column-composed per-dim sums:
    same surviving ids, bit-identical per-dim sums and driver-side
    means."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )

    init_rows = emb.orderBy("vec_id").limit(8).collect()
    init = [[float(v) for v in r["embedding"]] for r in init_rows]
    vec = emb.select("vec_id", "embedding")

    # the shipped (SQL-text) loop, one iteration
    cents_new, wcss_new, ids_new = lloyd_nd(
        vec, init, max_iterations=1, cache=False
    )

    # Column-form replay of the same iteration: per-dim double SUMs of
    # the element-wise cast, then the mean array
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
    """One spherical iteration through the SQL text == the Column-form
    decimal-sum replay (unitization happens driver-side in both)."""
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
