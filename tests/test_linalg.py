"""Distributed XᵀX / covariance (operators.linalg)."""

from __future__ import annotations

import numpy as np
import pytest

from flink_kmeans_clustering_spark.operators.linalg import (
    covariance_matrix,
    gram_matrix,
)


def _vec_df(spark, mat, extra_rows=()):
    rows = [([float(v) for v in row],) for row in mat] + [
        (list(r),) for r in extra_rows
    ]
    return spark.createDataFrame(rows, "embedding array<double>")


@pytest.fixture(scope="module")
def mat():
    rng = np.random.RandomState(3)
    return rng.standard_normal((40, 6))


def test_gram_matches_numpy(spark, mat):
    df = _vec_df(spark, mat).repartition(5)  # several GEMM partials
    got = {
        (r["i"], r["j"]): r["g"] for r in gram_matrix(df, dim=6).collect()
    }
    aug = np.hstack([mat, np.ones((len(mat), 1))])  # the intercept column
    want = aug.T @ aug
    assert len(got) == 7 * 8 // 2  # upper triangle only
    for (i, j), g in got.items():
        assert i <= j
        assert g == pytest.approx(want[i, j], abs=1e-9)


def test_gram_intercept_carries_count_and_sums(spark, mat):
    df = _vec_df(spark, mat)
    got = {(r["i"], r["j"]): r["g"] for r in gram_matrix(df, dim=6).collect()}
    assert got[(6, 6)] == pytest.approx(len(mat))
    for i in range(6):
        assert got[(i, 6)] == pytest.approx(mat[:, i].sum(), abs=1e-9)


def test_covariance_matches_numpy_cov(spark, mat):
    df = _vec_df(spark, mat).repartition(3)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(df, dim=6, round_to=None).collect()
    }
    want = np.cov(mat, rowvar=False)  # sample covariance (n-1)
    for (i, j), c in got.items():
        assert c == pytest.approx(want[i, j], abs=1e-9)


def test_wrong_width_rows_excluded_not_truncated(spark, mat):
    # a 3-wide and an 8-wide stray row must not contribute anything
    clean = _vec_df(spark, mat)
    dirty = _vec_df(spark, mat, extra_rows=[(1.0, 2.0, 3.0), tuple([9.0] * 8)])
    a = {
        (r["i"], r["j"]): r["g"] for r in gram_matrix(clean, dim=6).collect()
    }
    b = {
        (r["i"], r["j"]): r["g"] for r in gram_matrix(dirty, dim=6).collect()
    }
    assert a == b


def test_gram_empty_input(spark):
    empty = spark.createDataFrame([], "embedding array<double>")
    assert gram_matrix(empty, dim=4).count() == 0
    assert covariance_matrix(empty, dim=4).count() == 0


def test_pca_projection_is_narrow(spark, mat):
    from flink_kmeans_clustering_spark.operators.linalg import pca_project_checked
    from flink_kmeans_clustering_spark.plans import shuffle_count

    rows = [(i, [float(v) for v in mat[i]]) for i in range(len(mat))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pca_project_checked(df, dim=6)
    assert shuffle_count(out) == 0  # projection itself never shuffles


def test_pca_checked_matches_eigh_on_separated_spectrum(spark):
    """pca_project_checked's power iteration must land on (±) the same
    top-2 subspace as LAPACK eigh when the spectrum is well separated —
    the convergence guarantee behind using it as the checked PCA.  On
    near-degenerate spectra only cross-engine equality is promised
    (that's the oracle's job), not eigh agreement."""
    import numpy as np

    rng = np.random.RandomState(3)
    # explicit spectrum: PC1 var 25, PC2 var 9, rest ~0.01
    basis, _ = np.linalg.qr(rng.standard_normal((6, 6)))
    z = rng.standard_normal((300, 6)) * np.array([5.0, 3.0, 0.1, 0.1, 0.1, 0.1])
    mat = z @ basis.T
    df = spark.createDataFrame(
        [(i, [float(v) for v in mat[i]]) for i in range(len(mat))],
        "vec_id long, embedding array<double>",
    )
    from flink_kmeans_clustering_spark.operators.linalg import (
        pca_project_checked,
    )

    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in pca_project_checked(df, dim=6, iters=300).collect()
    }
    centered = mat - mat.mean(axis=0)
    vals, vecs = np.linalg.eigh(np.cov(mat, rowvar=False))
    comps = vecs[:, np.argsort(vals)[::-1][:2]]
    want = centered @ comps
    p1 = np.array([got[i][0] for i in range(len(mat))])
    p2 = np.array([got[i][1] for i in range(len(mat))])
    # sign-free alignment: |corr| with the eigh projection ≈ 1
    for g, w in ((p1, want[:, 0]), (p2, want[:, 1])):
        c = abs(np.corrcoef(g, w)[0, 1])
        assert c > 0.9999, c
    assert p1.var() >= p2.var()


def test_power_iterate_fold_order_matches_duckdb(spark):
    """The pure-Python matvec/norm folds must be bit-identical to
    DuckDB's list_sum sequential fold — the premise that lets the
    q_embed_pca oracle replay the whole iteration.  One iteration on an
    adversarial-magnitude matrix, compared bit-for-bit."""
    import math

    import duckdb

    from flink_kmeans_clustering_spark.operators.linalg import _matvec_fold

    import random

    random.seed(7)
    dim = 16
    a = [
        [random.uniform(-1, 1) * 10 ** random.randint(-6, 6) for _ in range(dim)]
        for _ in range(dim)
    ]
    v = [0.125] * dim
    w = _matvec_fold(a, v)
    s = 0.0
    for x in w:
        s += x * x
    py = [x / math.sqrt(s) for x in w]

    # string→double casts: DuckDB parses bare numeric literals through
    # DECIMAL (double-rounding, 1 ulp off); VARCHAR→DOUBLE is correctly
    # rounded.  The production oracle never embeds engine floats, so
    # only this test needs the workaround.
    mat_lit = "[" + ",".join(
        "[" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in row) + "]"
        for row in a
    ) + "]"
    d1 = dim + 1
    mv = (
        f"list_transform(range(1, {d1}), i -> "
        f"list_sum(list_transform(range(1, {d1}), j -> m[i][j]*v[j])))"
    )
    [(dk,)] = duckdb.sql(f"""
        WITH mat AS (SELECT {mat_lit}::DOUBLE[][] AS m),
        vv AS (SELECT list_transform(range(0, {dim}),
                      x -> CAST(0.125 AS DOUBLE)) AS v)
        SELECT list_transform({mv},
               x -> x / sqrt(list_sum(list_transform({mv}, y -> y*y))))
        FROM mat, vv
    """).fetchall()
    assert [x.hex() for x in py] == [float(x).hex() for x in dk]


def test_embedding_drift_detects_shift_and_null_case(spark):
    """Two halves drawn identically → cosine ≈ 1 on a fixture with a
    strong common direction; shifting one half's ids into a corpus
    with a different mean must drop the cosine and raise the L2.
    The split must also be plan-narrow: one aggregate, no per-row
    Python."""
    import numpy as np

    from flink_kmeans_clustering_spark.operators.linalg import (
        embedding_drift,
    )
    from flink_kmeans_clustering_spark.plans import explain_str

    rng = np.random.RandomState(11)
    base = rng.normal(0, 0.05, size=(400, 8)) + np.array(
        [1.0, 0, 0, 0, 0, 0, 0, 0]
    )
    df_same = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    [r] = embedding_drift(df_same, dim=8).collect()
    assert r["n_a"] + r["n_b"] == 400
    assert r["mean_cosine"] > 0.999
    assert r["mean_l2"] < 0.05

    # shifted variant: same ids, but rows whose md5-half == 1 move to a
    # different mean direction — the drift the monitor exists to catch
    shifted = base.copy()
    from flink_kmeans_clustering_spark.functions.hashing import hash_bucket
    from pyspark.sql import functions as F

    halves = {
        row["vec_id"]: row["h"]
        for row in df_same.select(
            "vec_id", hash_bucket(F.col("vec_id").cast("string"), 2).alias("h")
        ).collect()
    }
    for i in range(400):
        if halves[i] == 1:
            shifted[i] = rng.normal(0, 0.05, size=8) + np.array(
                [0, 1.0, 0, 0, 0, 0, 0, 0]
            )
    df_shift = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(shifted)],
        "vec_id long, embedding array<double>",
    )
    [r2] = embedding_drift(df_shift, dim=8).collect()
    assert r2["mean_cosine"] < 0.5
    assert r2["mean_l2"] > 1.0

    plan = explain_str(embedding_drift(df_same, dim=8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_outliers_flags_planted_anomaly(spark):
    from flink_kmeans_clustering_spark.operators.linalg import (
        embedding_outliers,
    )

    # 20 tame vectors + one planted far-out vector (id 7)
    rows = [
        (i, [((i + j) % 5 - 2) / 10.0 for j in range(8)]) for i in range(20)
    ]
    rows[7] = (7, [50.0] * 8)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = embedding_outliers(df, dim=8, k=3).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["score"] > top[1]["score"]


def test_embedding_outliers_excludes_wrong_width(spark):
    from flink_kmeans_clustering_spark.operators.linalg import (
        embedding_outliers,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    ids = {r["vec_id"] for r in embedding_outliers(df, dim=2, k=10).collect()}
    assert ids == {0, 2}


def test_embedding_health_pathologies(spark):
    """NULL vectors, wrong widths, and zero norms are counted
    separately and excluded from the norm profile."""
    from flink_kmeans_clustering_spark.operators.linalg import (
        embedding_health,
    )

    rows = [
        (0, [3.0, 4.0]),        # norm 5
        (1, [0.0, 1.0]),        # norm 1
        (2, None),              # null
        (3, [1.0]),             # wrong dim
        (4, [0.0, 0.0]),        # zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    [r] = embedding_health(df, expected_dim=2).collect()
    assert r["n_vecs"] == 5 and r["n_null_vec"] == 1
    assert r["n_wrong_dim"] == 1 and r["n_zero_norm"] == 1
    assert r["min_norm"] == 0.0 and r["max_norm"] == 5.0
    assert r["mean_norm"] == 2.0  # (5 + 1 + 0) / 3 valid-width vectors
