"""Unit tests for the K-Means operators on tiny hand-checked inputs.

Mirrors the reference semantics documented in SURVEY.md §3.4: lowest-id
tie-break, empty-cluster drop-semantics, cluster -1 on empty centroid
set, squared-Euclidean WCSS vs plain-Euclidean convergence distance.
"""

from __future__ import annotations

import math

import pytest

from flink_kmeans_clustering_spark.operators.kmeans import (
    assign_points,
    lloyd,
    moved_centroids,
    objective,
    objective_from_assigned,
    random_centroids,
    recompute_nearest,
    update_centroids,
)


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 10.0, 10.0), (3, 5.0, 0.0)],
        "point_id long, x double, y double",
    )


CENTROIDS = [(0, 0.0, 0.0), (1, 10.0, 10.0)]


def test_assign_nearest(spark, points):
    rows = {
        r["point_id"]: r["cluster"]
        for r in assign_points(points, CENTROIDS).collect()
    }
    assert rows == {0: 0, 1: 0, 2: 1, 3: 0}


def test_assign_tie_breaks_to_lowest_id(spark):
    # point equidistant from both centroids -> strict-< scan keeps first (lowest id)
    pts = spark.createDataFrame([(0, 5.0, 5.0)], "point_id long, x double, y double")
    [r] = assign_points(pts, CENTROIDS).collect()
    assert r["cluster"] == 0
    # same with reversed input order: ids still decide, not input order
    [r] = assign_points(pts, [(1, 10.0, 10.0), (0, 0.0, 0.0)]).collect()
    assert r["cluster"] == 0


def test_assign_empty_centroids_gives_minus_one(spark, points):
    rows = assign_points(points, [], dist2_col="dist2").collect()
    assert {r["cluster"] for r in rows} == {-1}
    assert all(r["dist2"] is None for r in rows)


def _nearest_2d(px, py, cents):
    """Pure-Python 2-D argmin: dist² is (x−cx)·(x−cx) + (y−cy)·(y−cy),
    the smallest (dist², id) wins — lowest id on ties; (-1, None) for
    an empty centroid set."""
    best = None
    for cid, cx, cy in cents:
        d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
        if best is None or (d2, cid) < best:
            best = (d2, cid)
    return (-1, None) if best is None else (best[1], best[0])


def test_assign_matches_python_argmin(spark, points):
    """assign_points == a pure-Python argmin on every row, cluster AND
    dist² bit-for-bit: hand-checked points, lowest-id ties independent
    of centroid input order, real data, and the empty set (−1 with a
    NULL dist²)."""
    from flink_kmeans_clustering_spark.views import centroids_v, points_v
    from tests.conftest import SF_CORRECTNESS

    ties = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 5.0, 0.0), (2, -2.5, 7.5)],
        "point_id long, x double, y double",
    )
    real = points_v(spark, SF_CORRECTNESS)
    cases = [
        (points, CENTROIDS),
        (ties, [(1, 10.0, 10.0), (0, 0.0, 0.0)]),
        (ties, [(7, 10.0, 0.0), (3, 0.0, 0.0), (5, 5.0, 10.0), (4, 5.0, 10.0)]),
        (real, centroids_v(spark, SF_CORRECTNESS)),
        (points, []),
    ]
    for df, cents in cases:
        got = {
            r["point_id"]: (r["cluster"], r["dist2"])
            for r in assign_points(df, cents, dist2_col="dist2").collect()
        }
        want = {r["point_id"]: _nearest_2d(r["x"], r["y"], cents) for r in df.collect()}
        assert got == want, cents


def test_update_means_and_drop_semantics(spark, points):
    # centroid 5 exists but gets no points -> absent from the update output
    assigned = assign_points(points, CENTROIDS + [(5, 1e6, 1e6)])
    rows = {r["id"]: r for r in update_centroids(assigned).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["x"] == pytest.approx(2.0)  # mean of 0,1,5
    assert rows[0]["y"] == pytest.approx(0.0)
    assert rows[0]["n"] == 3
    assert rows[1]["x"] == pytest.approx(10.0)
    assert rows[1]["n"] == 1


def test_objective_is_squared_euclidean(spark, points):
    assigned = assign_points(points, CENTROIDS, dist2_col="dist2")
    [r1] = objective_from_assigned(assigned).collect()
    [r2] = objective(assign_points(points, CENTROIDS), CENTROIDS).collect()
    expected = 0.0 + 1.0 + 0.0 + 25.0
    assert r1["wcss"] == pytest.approx(expected)
    assert r2["wcss"] == pytest.approx(expected)


def test_moved_centroids_filters_by_plain_euclidean(spark):
    old = spark.createDataFrame([(0, 0.0, 0.0), (1, 5.0, 5.0)], "id int, x double, y double")
    new = spark.createDataFrame([(0, 0.3, 0.4), (1, 5.0, 5.0)], "id int, x double, y double")
    rows = moved_centroids(new, old, epsilon=0.25).collect()
    assert [r["id"] for r in rows] == [0]
    assert rows[0]["moved"] == pytest.approx(0.5)  # sqrt(0.09+0.16), not squared
    assert moved_centroids(new, old, epsilon=0.6).count() == 0


def test_lloyd_converges_and_wcss_non_increasing(spark):
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(
            [(0, 0), (1, 0), (0, 1), (10, 10), (11, 10), (10, 11)]
        )],
        "point_id long, x double, y double",
    )
    init = [(0, -5.0, -5.0), (1, 20.0, 20.0)]
    wcss_by_iter = [
        lloyd(pts, init, max_iterations=n).wcss for n in (1, 2, 3)
    ]
    assert wcss_by_iter[0] >= wcss_by_iter[1] >= wcss_by_iter[2]

    res = lloyd(pts, init, max_iterations=50, epsilon=1e-9)
    assert res.iterations < 50  # epsilon termination fired
    got = {cid: (x, y) for cid, x, y in res.centroids}
    assert got[0][0] == pytest.approx(1 / 3)
    assert got[0][1] == pytest.approx(1 / 3)
    assert got[1][0] == pytest.approx(31 / 3)
    # fixpoint: one more iteration doesn't move anything
    again = lloyd(pts, res.centroids, max_iterations=1)
    for (a, b) in zip(sorted(res.centroids), sorted(again.centroids)):
        assert a[1] == pytest.approx(b[1]) and a[2] == pytest.approx(b[2])


def _lloyd_python(pts, init, iterations):
    """Pure-Python Lloyd with the reference semantics: (x−cx)·(x−cx) +
    (y−cy)·(y−cy), lowest id on ties, empty clusters dropped."""
    cur = sorted(init)
    for _ in range(iterations):
        sums = {}
        for px, py in pts:
            _, cid = min(
                ((px - cx) * (px - cx) + (py - cy) * (py - cy), cid)
                for cid, cx, cy in cur
            )
            sx, sy, n = sums.get(cid, (0.0, 0.0, 0))
            sums[cid] = (sx + px, sy + py, n + 1)
        cur = sorted((cid, sx / n, sy / n) for cid, (sx, sy, n) in sums.items())
    wcss = sum(
        min((px - cx) * (px - cx) + (py - cy) * (py - cy) for _, cx, cy in cur)
        for px, py in pts
    )
    return cur, wcss


def test_lloyd_drops_empty_cluster_forever(spark):
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 1.0)], "point_id long, x double, y double"
    )
    init = [(0, 0.5, 0.5), (7, 1e6, 1e6)]  # centroid 7 never wins a point
    res = lloyd(pts, init, max_iterations=3)
    assert [c[0] for c in res.centroids] == [0]

    # a cluster that empties mid-fixture: the survivors and the WCSS
    # match a pure-Python replay (integer coordinates keep every
    # partial sum exact, so the centroids match bit-for-bit)
    rows = [(i, float(i % 7), float((i * 3) % 11)) for i in range(500)]
    pts = spark.createDataFrame(rows, "point_id long, x double, y double")
    init = [(0, 0.0, 0.0), (1, 6.0, 10.0), (7, 1e6, 1e6)]  # 7 empties
    res = lloyd(pts, init, max_iterations=5)
    ref, ref_wcss = _lloyd_python([(x, y) for _, x, y in rows], init, 5)
    assert [c[0] for c in res.centroids] == [0, 1]
    assert res.centroids == ref
    assert res.wcss == pytest.approx(ref_wcss, rel=1e-12)


def test_mllib_and_lloyd_agree_at_fixpoint(spark):
    """SURVEY §7.5 parity note, closed: on well-separated blobs the
    packaged MLlib path (k-means|| init) and the custom Lloyd loop
    (reference semantics) converge to the same local optimum — same
    WCSS within float tolerance and the same partition of points (up
    to cluster relabeling).  pyspark.ml exposes no initial-model
    parameter, so equivalence is stated at the fixpoint, not per
    iteration."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans_ml import fit_kmeans_ml

    def u(c):  # deterministic uniform in [0,1) from the row id
        return (
            ((F.xxhash64(F.col("id"), F.lit(c)) % 1000000) + 1000000) % 1000000
        ) / 1000000.0

    two_pi = 6.283185307179586
    ang = (F.col("id") % 8).cast("double") * two_pi / 8
    pts = spark.range(2000).select(
        F.col("id").alias("point_id"),
        (F.cos(ang) * 10 + (u(1) + u(2) - 1.0)).alias("x"),
        (F.sin(ang) * 10 + (u(3) + u(4) - 1.0)).alias("y"),
    ).cache()
    # Lloyd from one deterministic point per blob (well-placed init)
    init_rows = (
        pts.withColumn("blob", F.col("point_id") % 8)
        .groupBy("blob")
        .agg(F.min_by(F.struct("x", "y"), "point_id").alias("p"))
        .select("blob", "p.x", "p.y")
        .collect()
    )
    init = [(int(r["blob"]), float(r["x"]), float(r["y"])) for r in init_rows]
    res = lloyd(pts, init, max_iterations=50, epsilon=1e-9)

    ml_in = pts.select("point_id", F.array("x", "y").alias("xy"))
    ml = fit_kmeans_ml(ml_in, k=8, features_col="xy", max_iter=50, tol=1e-9)
    assert abs(ml.wcss - res.wcss) / res.wcss < 1e-6

    ours = {r["point_id"]: r["cluster"] for r in res.assignments.collect()}
    theirs = {r["point_id"]: r["cluster"] for r in ml.predictions.collect()}
    # same partition up to label permutation: the relabel map must be a bijection
    relabel = {}
    for pid, c in ours.items():
        assert relabel.setdefault(c, theirs[pid]) == theirs[pid]
    assert len(set(relabel.values())) == len(relabel)
    pts.unpersist()


def test_mllib_fixpoint_checked_by_lloyd_nd_at_scale(spark):
    """Scale-level check for the oracle-less MLlib path (VERDICT r05
    item 2): on the REAL sf0.1 embeddings (64-dim), MLlib's converged
    model must be a fixpoint of OUR oracle-checked lloyd_nd machinery —
    (a) recomputing WCSS from MLlib's centroids with assign_points_nd
    reproduces model.summary.trainingCost, and (b) one update step from
    those centroids barely moves them.  This pins MLlib's cost and
    assignment semantics against the independently-oracled n-dim
    operators at real-data scale, which no DuckDB oracle can (k-means||
    placement is MLlib-internal RNG)."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        update_centroids_nd,
    )
    from flink_kmeans_clustering_spark.operators.kmeans_ml import fit_kmeans_ml

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    ml = fit_kmeans_ml(emb, k=8, features_col="embedding",
                       max_iter=100, tol=1e-12)
    centroids = [c for _, c in sorted(ml.centroids)]

    a = assign_points_nd(emb, centroids, dist2_col="_d2")
    [row] = a.agg(F.sum("_d2").alias("wcss")).collect()
    assert abs(float(row["wcss"]) - ml.wcss) / ml.wcss < 1e-6

    dim = len(centroids[0])
    moved = update_centroids_nd(a, dim).collect()
    nxt = {int(r["id"]): list(r["centroid"]) for r in moved}
    assert len(nxt) == len(centroids)  # no cluster emptied at fixpoint
    for i, c in enumerate(centroids):
        drift2 = sum((x - y) ** 2 for x, y in zip(c, nxt[i]))
        assert drift2 ** 0.5 < 1e-4


def test_init_helpers_are_seeded_and_in_range(spark):
    a = random_centroids(8, seed=42)
    b = random_centroids(8, seed=42)
    assert a == b
    assert all(-15 <= cx <= 15 and -15 <= cy <= 15 for _, cx, cy in a)
    assert [c[0] for c in a] == list(range(8))
    c = recompute_nearest(a, repeats=3, seed=7)
    assert len(c) == 8 and c != a
    d = recompute_nearest(a, repeats=3, seed=7)
    assert c == d  # deterministic under seed


def test_assign_plan_is_narrow(spark, points):
    # the expression path must not shuffle: no Exchange in the plan
    plan = assign_points(points, CENTROIDS)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scalable_init_deterministic_and_sized(spark):
    from flink_kmeans_clustering_spark.operators.kmeans import scalable_init
    from flink_kmeans_clustering_spark.views import points_v
    from tests.conftest import SF_CORRECTNESS

    pts = points_v(spark, SF_CORRECTNESS)
    a = scalable_init(pts, k=8, rounds=3, seed=11)
    b = scalable_init(pts, k=8, rounds=3, seed=11)
    assert a == b  # hash-seeded sampling: reproducible bit-for-bit
    assert [c[0] for c in a] == list(range(8))
    c = scalable_init(pts, k=8, rounds=3, seed=12)
    assert c != a  # the seed actually steers the draw


def test_scalable_init_beats_random_init_wcss(spark):
    from flink_kmeans_clustering_spark.operators.kmeans import (
        lloyd,
        random_centroids,
        scalable_init,
    )
    from flink_kmeans_clustering_spark.views import points_v
    from tests.conftest import SF_CORRECTNESS

    pts = points_v(spark, SF_CORRECTNESS)
    good = scalable_init(pts, k=8, rounds=3, seed=11)
    res_good = lloyd(pts, good, max_iterations=3)
    res_rand = lloyd(pts, random_centroids(8, seed=11), max_iterations=3)
    # d²-weighted oversampling must not LOSE to blind uniform placement
    # on the same fixture after the same refinement budget
    assert res_good.wcss <= res_rand.wcss * 1.001


def test_scalable_init_empty_and_degenerate(spark):
    from flink_kmeans_clustering_spark.operators.kmeans import scalable_init

    empty = spark.createDataFrame([], "point_id long, x double, y double")
    assert scalable_init(empty, k=4) == []
    # all points identical: one candidate, phi=0 short-circuit
    same = spark.createDataFrame(
        [(i, 1.0, 2.0) for i in range(5)], "point_id long, x double, y double"
    )
    out = scalable_init(same, k=4, rounds=2, seed=3)
    assert out == [(0, 1.0, 2.0)]


def test_lloyd_nd_matches_numpy_reference(spark):
    """The vector-column Lloyd must reproduce a plain numpy Lloyd
    (same init, fixed iterations, lowest-index tie-break) on a small
    4-dim corpus, including the final WCSS."""
    import numpy as np
    from flink_kmeans_clustering_spark.operators.kmeans import lloyd_nd

    rng = np.random.RandomState(7)
    blobs = np.concatenate(
        [rng.normal(c, 0.05, size=(20, 4)) for c in (0.0, 1.0, 2.0)]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(blobs)],
        "vec_id long, embedding array<double>",
    )
    init = [list(map(float, blobs[i])) for i in (0, 20, 40)]
    got_c, got_w, got_ids = lloyd_nd(df, init, max_iterations=5)
    assert got_ids == [0, 1, 2]  # no cluster emptied on this fixture

    cur = np.array(init)
    for _ in range(5):
        d2 = ((blobs[:, None, :] - cur[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)
        cur = np.array(
            [
                blobs[lab == j].mean(axis=0) if (lab == j).any() else cur[j]
                for j in range(3)
            ]
        )
    d2 = ((blobs[:, None, :] - cur[None, :, :]) ** 2).sum(axis=2)
    want_w = d2.min(axis=1).sum()
    assert np.allclose(np.array(got_c), cur, atol=1e-9)
    assert abs(got_w - want_w) < 1e-6


def test_lloyd_nd_empty_cluster_keeps_persistent_ids(spark):
    """A duplicated init centroid (id 1 == id 0) never wins a point
    (strict-< lowest-id tie-break), so cluster 1 empties after the
    first update.  Surviving ids must be the ORIGINAL [0, 2] — not
    re-densified [0, 1] — matching the DuckDB oracle's id-carrying CTE
    chain and the 2-D lloyd's drop-semantics."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
    )

    df = spark.createDataFrame(
        [(i, [float(i // 4), 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    init = [[0.0, 0.0], [0.0, 0.0], [1.0, 0.0]]
    cents, _w, ids = lloyd_nd(df, init, max_iterations=3)
    assert ids == [0, 2]
    assert cents == [[0.0, 0.0], [1.0, 0.0]]
    # and the emitted labels use the original ids too
    labs = {
        r["vec_id"]: r["cluster"]
        for r in assign_points_nd(df, cents, centroid_ids=ids).collect()
    }
    assert set(labs.values()) == {0, 2}


def test_assign_nd_empty_centroids_is_minus_one(spark):
    from flink_kmeans_clustering_spark.operators.kmeans import assign_points_nd

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    [r] = assign_points_nd(df, []).collect()
    assert r["cluster"] == -1


def test_lloyd_selectexpr_superstep_equals_column_form(spark):
    """The loop's selectExpr-authored superstep (hoisted aggregation
    Columns, one parse per superstep) must equal the public
    assign_points + update_centroids composition value-for-value — the
    contract that lets the loop keep the cheap JVM-parsed plan
    construction.  assign_points itself is pinned to a pure-Python
    argmin by test_assign_matches_python_argmin."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points,
        lloyd,
        update_centroids,
    )
    from flink_kmeans_clustering_spark.views import points_v
    from tests.conftest import SF_CORRECTNESS

    pts = points_v(spark, SF_CORRECTNESS).limit(500)
    pts = pts.cache()
    pts.count()
    init = [(0, -5.0, -5.0), (1, 0.0, 0.0), (2, 5.0, 5.0)]
    # drive the loop once; then replay the same supersteps with the
    # canonical Column composition and compare the trajectories
    res = lloyd(pts, init, max_iterations=3, cache=False)
    cur = [(int(i), float(a), float(b)) for i, a, b in init]
    for _ in range(3):
        rows = update_centroids(assign_points(pts, cur)).collect()
        cur = sorted(
            (int(r["id"]), float(r["x"]), float(r["y"])) for r in rows
        )
    assert res.centroids == cur
    pts.unpersist()


def test_lloyd_superstep_codegen_is_value_independent(spark):
    """Two different centroid sets entered through the loop's
    selectExpr assignment (_argmin_2d_sql) must generate byte-identical
    stage code — the Janino-cache property of the plan-stable form
    (inlined primitive literals would recompile every superstep)."""
    import contextlib
    import io
    import re

    from flink_kmeans_clustering_spark.operators.kmeans import _argmin_2d_sql
    from flink_kmeans_clustering_spark.views import points_v
    from tests.conftest import SF_CORRECTNESS

    def body(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("codegen")
        lines = []
        for ln in buf.getvalue().splitlines():
            s = ln.strip()
            if s.startswith(("*", "+-", ":", "==")):
                continue
            code = re.sub(r"/\*.*?\*/", "", ln)
            code = re.sub(r"//.*$", "", code).rstrip()
            if code.strip():
                lines.append(code)
        return "\n".join(lines)

    def expr_for(cents):
        return f"({_argmin_2d_sql(cents, 'x', 'y')}).cluster AS cluster"

    pts = points_v(spark, SF_CORRECTNESS)
    b1 = body(pts.selectExpr("x", "y", expr_for([(0, 0.0, 0.0), (1, 10.0, 10.0)])))
    b2 = body(pts.selectExpr("x", "y", expr_for([(0, 3.5, -2.0), (1, 7.25, 1.5)])))
    assert b1 == b2


def test_lloyd_assign_expr_rejects_nonfinite_and_quotes_columns(spark):
    """The SQL-text assignment (_argmin_2d_sql) must fail eagerly (clear
    ValueError from common.array_lit_sql) on a NaN/inf centroid
    coordinate instead of emitting unparseable 'nanD' SQL, and must
    backtick-quote the coordinate column names so quoting-needing
    identifiers parse."""
    import math

    import pytest

    from flink_kmeans_clustering_spark.operators.kmeans import lloyd
    from flink_kmeans_clustering_spark.views import points_v
    from tests.conftest import SF_CORRECTNESS

    pts = points_v(spark, SF_CORRECTNESS).limit(50)
    with pytest.raises(ValueError, match="non-finite"):
        lloyd(pts, [(0, float("nan"), 0.0), (1, 1.0, 1.0)],
              max_iterations=1, cache=False)
    with pytest.raises(ValueError, match="non-finite"):
        lloyd(pts, [(0, 0.0, math.inf), (1, 1.0, 1.0)],
              max_iterations=1, cache=False)
    # quoting: run the loop on columns whose names need backticks and
    # cross-check against the same data under plain names
    odd = pts.selectExpr("x AS `the x`", "y AS `the y`")
    init = [(0, -5.0, -5.0), (1, 5.0, 5.0)]
    r_odd = lloyd(odd, init, max_iterations=2, x="the x", y="the y",
                  cache=False)
    r_ref = lloyd(pts, init, max_iterations=2, cache=False)
    assert r_odd.centroids == r_ref.centroids


LOOP_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _conf_state(spark, keys=LOOP_KEYS):
    """Explicit session values of ``keys`` (None = unset)."""
    return {k: spark.conf.get(k, None) for k in keys}


def _restore_conf(spark, state):
    for k, v in state.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_session_conf_restores_prior_state_on_every_exit(spark):
    """session_conf puts each key back exactly: an explicit value is
    re-set, a key the session never set is unset again — also when the
    block raises."""
    from flink_kmeans_clustering_spark.operators.common import session_conf

    key_set, key_unset = "spark.sql.shuffle.partitions", "spark.sql.codegen.wholeStage"
    before = _conf_state(spark, (key_set, key_unset))
    assert before[key_unset] is None  # the test session never sets it
    with session_conf(spark, {key_set: "3", key_unset: "false"}):
        assert _conf_state(spark, (key_set, key_unset)) == {
            key_set: "3", key_unset: "false"
        }
    assert _conf_state(spark, (key_set, key_unset)) == before
    with pytest.raises(RuntimeError, match="boom"):
        with session_conf(spark, {key_set: "5", key_unset: "false"}):
            raise RuntimeError("boom")
    assert _conf_state(spark, (key_set, key_unset)) == before


def test_loops_restore_session_conf(spark):
    """lloyd, lloyd_nd and spherical_kmeans_nd flip AQE and the shuffle
    width only for their loop: afterwards the touched keys are
    byte-identical to before — with the keys explicitly set, and with
    shuffle.partitions never set (it must come back unset, not as a
    default value).  A NaN centroid still raises and still restores."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        lloyd_nd,
        spherical_kmeans_nd,
    )

    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 10.0, 10.0), (3, 5.0, 0.0)],
        "point_id long, x double, y double",
    )
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.5]), (1, [0.0, 1.0, 0.5]), (2, [1.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    init_nd = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    runs = [
        lambda: lloyd(pts, CENTROIDS, max_iterations=1, cache=False),
        lambda: lloyd_nd(vecs, init_nd, max_iterations=1, cache=False),
        lambda: spherical_kmeans_nd(vecs, init_nd, max_iterations=1, cache=False),
    ]
    nan_init = [(0, float("nan"), 0.0), (1, 1.0, 1.0)]
    before = _conf_state(spark)
    try:
        for state in ("set", "unset"):
            if state == "unset":
                spark.conf.unset("spark.sql.shuffle.partitions")
            expected = _conf_state(spark)
            assert (expected["spark.sql.shuffle.partitions"] is None) == (
                state == "unset"
            )
            for run in runs:
                run()
                assert _conf_state(spark) == expected
            with pytest.raises(ValueError, match="non-finite"):
                lloyd(pts, nan_init, max_iterations=1, cache=False)
            assert _conf_state(spark) == expected
    finally:
        _restore_conf(spark, before)


def test_assign_nd_quotes_vector_column(spark):
    """A vector column whose name needs backticks (space, dot, backtick)
    assigns, updates and iterates exactly like the same data under a
    plain name."""
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
        lloyd_nd,
        update_centroids_nd,
    )

    plain = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [4.0, 4.0]), (3, [5.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    name = "the `vec`.v"
    odd = plain.withColumnRenamed("embedding", name)
    cents = [[0.0, 0.0], [5.0, 5.0]]

    def rows(df, col):
        a = assign_points_nd(df, cents, vec_col=col, dist2_col="d2")
        assert a.columns == ["vec_id", col, "cluster", "d2"]
        return sorted(
            (r["vec_id"], r["cluster"], r["d2"])
            for r in a.select("vec_id", "cluster", "d2").collect()
        )

    assert rows(odd, name) == rows(plain, "embedding")
    upd_odd = update_centroids_nd(
        assign_points_nd(odd, cents, vec_col=name), dim=2, vec_col=name
    )
    upd_ref = update_centroids_nd(assign_points_nd(plain, cents), dim=2)
    assert sorted(upd_odd.collect()) == sorted(upd_ref.collect())
    assert lloyd_nd(odd, cents, max_iterations=1, vec_col=name, cache=False) == (
        lloyd_nd(plain, cents, max_iterations=1, cache=False)
    )
