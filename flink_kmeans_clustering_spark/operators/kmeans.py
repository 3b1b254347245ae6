"""K-Means dataflow operators, Spark-first (SURVEY.md §2.2, O1-O10).

The reference implements Lloyd's algorithm as a Flink bulk iteration over
2-D points with broadcast centroids (``KMeans.java:148-236``).  Here each
step is an independent, composable DataFrame operator:

* :func:`assign_points` — O1/O7 nearest-centroid assignment.  The k
  centroids enter the plan as array literals read by a higher-order
  ``transform``, and the argmin is ``array_min`` over ``(dist², id)``
  structs: a *narrow* map with zero shuffle — the Spark analogue of
  Flink's map-with-broadcast (``KMeans.java:264-290``).  The generated
  stage code carries no centroid values, so an iterative caller
  compiles it once and reuses it every superstep.
* :func:`update_centroids` — O3/O4 grouped partial-sum + mean
  (``KMeans.java:311-336``): one hash-partition exchange on the cluster
  id with map-side partial aggregation (Catalyst's HashAggregate
  partial→final mirrors Flink's combiner insertion).
* :func:`objective_from_assigned` — O9/O10 WCSS, Σ d² over an
  assignment that carries each point's d².
* :func:`moved_centroids` — O6 convergence join+filter
  (``KMeans.java:169-181``).
* :func:`lloyd` — O5 bulk iteration as a driver loop: each superstep is
  the assignment plus the grouped update, the k-row centroid state
  collects to the driver and re-enters the next round as array
  literals (MLlib's internal collect+broadcast pattern).
* :func:`assign_points_nd` / :func:`lloyd_nd` /
  :func:`spherical_kmeans_nd` — the same superstep over an
  ``array<double>`` vector column; :func:`lloyd_nd` folds its own
  per-cluster means from the kernel's partial sums.

Each kernel has one definition.  The 2-D argmin is SQL text,
:func:`_argmin_2d_sql`; :func:`lloyd` pastes it into one ``selectExpr``
parse per superstep, which is far cheaper than composing the same tree
Column by Column over py4j.  The n-d argmin and partial sums are the
numpy kernel over Arrow batches in
:mod:`~flink_kmeans_clustering_spark.functions.vector`
(``assign_nearest``, ``label_sums``, ``nearest_dist2_sum``); the n-d
operators all build from it.

Semantic fine print preserved from the reference (SURVEY.md §3.4):

* Tie-break: strict ``<`` scan (``KMeans.java:281``) ⇒ lowest centroid id
  wins ties.  ``(dist², id)`` struct ordering reproduces this (argmin over
  d² equals argmin over d).
* Empty clusters vanish from the next round (groupBy emits no row —
  drop-semantics, unlike MLlib which keeps the stale center).
* Assignment against an empty centroid set yields cluster ``-1``
  (``KMeans.java:277-287``).
* WCSS sums *squared* Euclidean distance (``KMeans.java:357``); the
  convergence epsilon compares *plain* Euclidean distance
  (``KMeans.java:179``).
"""

from __future__ import annotations

import math
import random
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.functions.hashing import md5_int, md5_u32
from flink_kmeans_clustering_spark.functions.vector import (
    assign_nearest,
    l2_normalize_sql,
    label_sums,
    nearest_dist2_sum,
)
from flink_kmeans_clustering_spark.operators.common import (
    array_lit_sql,
    fresh_name,
    quote_ident,
    session_conf,
)

Centroid = tuple[int, float, float]  # (id, x, y)


def _with_argmin(
    df: DataFrame, argmin_sql: str | None, cluster_col: str, dist2_col: str | None
) -> DataFrame:
    """``df`` plus the cluster (and optionally dist²) of an argmin
    struct given as SQL text; ``None`` (an empty centroid set) gives
    cluster ``-1`` and a NULL dist² (``KMeans.java:277-287``).

    Two projections: the first evaluates the struct once into a
    temporary column, the second reads its fields.  Catalyst does not
    collapse them when both fields are read (it never duplicates a
    non-trivial expression), so the argmin runs once per row; reading
    both fields off one inline expression would evaluate it twice.
    """
    if argmin_sql is None:
        return df.select(
            "*", F.lit(-1).alias(cluster_col),
            *([F.lit(None).cast("double").alias(dist2_col)] if dist2_col else []),
        )
    tmp = fresh_name("_argmin", df.columns)
    cols = [F.col(quote_ident(c)) for c in df.columns]
    cols.append(F.col(tmp)["cluster"].alias(cluster_col))
    if dist2_col:
        cols.append(F.col(tmp)["dist2"].alias(dist2_col))
    return df.select("*", F.expr(argmin_sql).alias(tmp)).select(*cols)


# ---------------------------------------------------------------------------
# O1 / O7 — nearest-centroid assignment
# ---------------------------------------------------------------------------


def assign_points(
    points: DataFrame,
    centroids: Sequence[Centroid],
    x: str = "x",
    y: str = "y",
    cluster_col: str = "cluster",
    dist2_col: str | None = None,
) -> DataFrame:
    """Assign each point to its nearest centroid (O1/O7).

    The centroid coordinates enter the plan as three **array literals**
    (ids/xs/ys) read by a higher-order ``transform`` over the index
    range (:func:`_argmin_2d_sql`, the same text :func:`lloyd` runs
    each superstep); ``array_min`` over ``(dist², id)`` structs gives
    the argmin with the reference's lowest-id tie-break.  Array
    literals live in the codegen ``references`` table, not in the
    generated Java source, so the stage source is byte-identical
    across Lloyd supersteps — Janino compiles it once and every later
    superstep hits the codegen cache.  A narrow map: no join, no
    shuffle — the Spark analogue of Flink's map-with-broadcast
    (``KMeans.java:264-290``).

    An empty centroid sequence assigns cluster ``-1`` (and a NULL
    dist²) to every point (``KMeans.java:277-287``).
    """
    argmin = _argmin_2d_sql(centroids, x, y) if centroids else None
    return _with_argmin(points, argmin, cluster_col, dist2_col)


def _argmin_2d_sql(centroids: Sequence[Centroid], x: str, y: str) -> str:
    """The 2-D nearest-centroid argmin as one SQL expression: a
    ``(dist2, cluster)`` struct, read as ``(expr).cluster`` /
    ``(expr).dist2``.

    dist² is ``(x−cx)·(x−cx) + (y−cy)·(y−cy)`` and ``array_min`` over
    the structs keeps the lowest-id tie-break.  Coordinates render
    through :func:`~.common.array_lit_sql`, which rejects NaN/±inf
    with ``ValueError("non-finite literal …")``; the column names are
    backtick-quoted.  ``centroids`` must be non-empty.

    The columns are read inside the per-centroid lambda, so its
    variable is named to differ from both: a column called ``i`` would
    otherwise resolve to the lambda variable.  Renaming is free, where
    let-binding (x, y) through a one-element ``transform`` outside the
    lambda cost ~10% per superstep (100k points, k=8, 4 vCPUs).
    """
    i = "i"
    while i.lower() in (x.lower(), y.lower()):
        i += "_"
    ids = array_lit_sql([int(c[0]) for c in centroids], kind="int")
    xs = array_lit_sql([float(c[1]) for c in centroids])
    ys = array_lit_sql([float(c[2]) for c in centroids])
    qx, qy = quote_ident(x), quote_ident(y)
    return (
        f"array_min(transform(sequence(0, {len(centroids) - 1}), {i} -> named_struct("
        f"'dist2', ({qx} - get({xs}, {i})) * ({qx} - get({xs}, {i}))"
        f" + ({qy} - get({ys}, {i})) * ({qy} - get({ys}, {i})),"
        f" 'cluster', get({ids}, {i}))))"
    )


# ---------------------------------------------------------------------------
# O3 / O4 — grouped partial-sum + mean projection
# ---------------------------------------------------------------------------


def update_centroids(
    assigned: DataFrame,
    cluster_col: str = "cluster",
    x: str = "x",
    y: str = "y",
    count_col: str | None = "n",
) -> DataFrame:
    """Recompute centroids as per-cluster means (O2+O3+O4).

    ``groupBy(cluster).agg(sum, sum, count)`` then the mean projection
    ``Σ/n`` (``KMeans.java:311-336``).  Catalyst plans this as partial →
    exchange(hash by cluster) → final HashAggregate — the map-side
    combine Flink gets from its combinable ReduceFunction, for free.
    Clusters with zero assigned points emit no row (drop-semantics).
    """
    agg = assigned.groupBy(F.col(cluster_col).alias("id")).agg(
        F.sum(x).alias("_sx"), F.sum(y).alias("_sy"), F.count(F.lit(1)).alias("_n")
    )
    cols = [
        F.col("id"),
        (F.col("_sx") / F.col("_n")).alias(x),
        (F.col("_sy") / F.col("_n")).alias(y),
    ]
    if count_col:
        cols.append(F.col("_n").alias(count_col))
    return agg.select(*cols)


# ---------------------------------------------------------------------------
# O9 / O10 — objective function (WCSS)
# ---------------------------------------------------------------------------


def objective_from_assigned(assigned: DataFrame, dist2_col: str = "dist2") -> DataFrame:
    """Global Σ d² over an assignment that already carries d² (O10)."""
    return assigned.agg(F.sum(dist2_col).alias("wcss"))


# ---------------------------------------------------------------------------
# O6 — convergence join + filter
# ---------------------------------------------------------------------------


def moved_centroids(
    new: DataFrame,
    old: DataFrame,
    epsilon: float,
    centroid_id: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Centroids that moved more than ``epsilon`` (plain Euclidean, O6).

    Inner join new↔old on id + distance filter (``KMeans.java:169-181``).
    Both sides are k rows — Catalyst broadcasts.  The Lloyd iteration
    stops when this set is empty; a centroid absent from ``new`` (empty
    cluster) cannot keep the iteration alive.
    """
    o = old.select(
        F.col(centroid_id).alias("_oid"), F.col(x).alias("_ox"), F.col(y).alias("_oy")
    )
    dx = F.col(x) - F.col("_ox")
    dy = F.col(y) - F.col("_oy")
    return (
        new.join(F.broadcast(o), F.col(centroid_id) == F.col("_oid"))
        .withColumn("moved", F.sqrt(dx * dx + dy * dy))
        .filter(F.col("moved") > float(epsilon))
        .select(centroid_id, x, y, "moved")
    )


# ---------------------------------------------------------------------------
# O5 — bulk iteration (driver loop) + D1/D2 init
# ---------------------------------------------------------------------------


@dataclass
class LloydResult:
    centroids: list[Centroid]  # final centroids (empty clusters dropped)
    iterations: int  # supersteps actually run
    assignments: DataFrame  # final re-assignment (O7) with dist2
    wcss: float  # Σ squared Euclidean distance (O9/O10)


def lloyd(
    points: DataFrame,
    init_centroids: Sequence[Centroid],
    max_iterations: int = 100,
    epsilon: float | None = None,
    x: str = "x",
    y: str = "y",
    cache: bool = True,
) -> LloydResult:
    """Lloyd's K-Means as a driver-side bulk iteration (O5).

    Per superstep: assign (narrow map) → update (one k-key shuffle) →
    collect k rows to the driver → optional epsilon convergence check
    computed driver-side on those k rows (exact O6 semantics: join new
    ↔ old on id, plain-Euclidean move > ε keeps iterating;
    ``epsilon=None`` reproduces the reference's fixed-iteration mode,
    ``closeWith(newCentroids)`` at ``KMeans.java:185``).

    The points DataFrame is cached once and re-scanned each superstep —
    Spark's substitute for Flink's native feedback edge; with k-row
    driver state the per-iteration cost is one job over the cached scan.
    Assignment is :func:`_argmin_2d_sql`, the argmin
    :func:`assign_points` builds from, so the generated stage code is
    identical every superstep (one Janino compile per loop, not one per
    iteration).  The update is the groupBy k-row shuffle of
    :func:`update_centroids`.

    For the duration of the loop the session runs with AQE disabled and
    ``spark.sql.shuffle.partitions`` pinned to k (restored afterwards by
    :func:`~.common.session_conf`): each superstep's shuffle carries at
    most k rows per map partition, so adaptive re-planning is pure
    per-job overhead here (~0.4 s/job measured) and the k-key exchange
    needs no more than k reducers — true at any input scale, since the
    shuffled data is the k-row partial-aggregate, not the points.
    """
    if cache:
        # a single-file CSV/parquet source yields one partition — every
        # superstep's map would run on one core.  Round-robin rebalance
        # before caching (one extra pass, amortized over all
        # iterations); well-split inputs pass through.  Width is sized
        # to the DATA (4 partitions per input split, i.e. ≥ ~32 MB
        # each), capped at the cluster's slot count: padding a small
        # input out to core count just multiplies per-superstep task
        # scheduling — measured 3.1 s → 2.4 s on the 10-iteration
        # 100k-point fixture going from 32 partitions to 8.  File count
        # is a free proxy for the scan's split count (no plan-to-RDD
        # conversion); non-file sources fall back to the exact
        # partition count.
        target = points.sparkSession.sparkContext.defaultParallelism
        try:
            n_splits = len(points.inputFiles())
        except Exception:
            n_splits = 0
        if n_splits == 0:
            n_splits = points.rdd.getNumPartitions()
        if n_splits < target:
            points = points.repartition(min(target, 4 * n_splits))
        points = points.cache()
    current: list[Centroid] = [(int(i), float(px), float(py)) for i, px, py in init_centroids]
    iterations = 0
    # Superstep plan construction cost: building the assignment and
    # update Column-by-Column is ~40 py4j round trips per superstep
    # (~0.07 s at k=8 — a third of the whole superstep on the 100k
    # fixture).  Instead the assignment is ONE selectExpr string
    # (parsed JVM-side) and the value-INdependent update aggregation
    # Columns are hoisted out of the loop.  NOT a single spark.sql()
    # with GROUP BY over the argmin alias: measured, the grouping key
    # inlines the HOF into the aggregate (the projection-collapse trap)
    # and each executed plan left the interpreted-eval path ~2× slower
    # for the rest of the session.  The explicit selectExpr Project
    # keeps the argmin in its own codegen stage.
    qx, qy = quote_ident(x), quote_ident(y)
    _gid = F.col("cluster").alias("id")
    _aggs = [
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.count(F.lit(1)).alias("_n"),
    ]
    _outs = [
        F.col("id"),
        (F.col("_sx") / F.col("_n")).alias(x),
        (F.col("_sy") / F.col("_n")).alias(y),
    ]
    loop_conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(max(1, len(current))),
    }
    with session_conf(points.sparkSession, loop_conf):
        for _ in range(max_iterations):
            assign = _argmin_2d_sql(current, x, y)
            new_rows = (
                points.selectExpr(qx, qy, f"({assign}).cluster AS cluster")
                .groupBy(_gid)
                .agg(*_aggs)
                .select(*_outs)
                .collect()
            )
            new = [(int(r["id"]), float(r[x]), float(r[y])) for r in new_rows]
            new.sort(key=lambda c: c[0])
            iterations += 1
            if epsilon is not None:
                old_by_id = {c[0]: c for c in current}
                alive = any(
                    math.dist(old_by_id[cid][1:], (nx, ny)) > epsilon
                    for cid, nx, ny in new
                    if cid in old_by_id
                )
                current = new
                if not alive:
                    break
            else:
                current = new

        assignments = assign_points(points, current, x=x, y=y, dist2_col="dist2")
        row = objective_from_assigned(assignments).collect()[0]
        wcss = float(row["wcss"]) if row["wcss"] is not None else 0.0
    return LloydResult(centroids=current, iterations=iterations, assignments=assignments, wcss=wcss)


def random_centroids(
    k: int,
    min_coord: float = -15.0,
    max_coord: float = 15.0,
    seed: int | None = None,
) -> list[Centroid]:
    """D1: k uniform random centroids in [min, max]², ids 0..k-1.

    The reference uses an unseeded ``new Random()`` (``KMeans.java:88``);
    we take an explicit seed for reproducibility.
    """
    rng = random.Random(seed)
    return [
        (i, rng.uniform(min_coord, max_coord), rng.uniform(min_coord, max_coord))
        for i in range(k)
    ]


def recompute_nearest(
    centroids: Sequence[Centroid],
    repeats: int,
    min_coord: float = -15.0,
    max_coord: float = 15.0,
    seed: int | None = None,
) -> list[Centroid]:
    """D2: the reference's ``recompnearest`` init heuristic.

    Repeat ``repeats`` times: find the globally closest *pair* of
    centroids (O(k²) scan, ``KMeans.java:101-113``) and re-randomize the
    second member of the pair (``:114-116``).  Kept for parity; MLlib's
    k-means|| init is the recommended replacement (SURVEY.md §2.3 D2).
    """
    out = [(int(i), float(cx), float(cy)) for i, cx, cy in centroids]
    rng = random.Random(seed)
    for _ in range(repeats):
        if len(out) < 2:
            break
        best_j, best_d = None, float("inf")
        for i in range(len(out)):
            for j in range(len(out)):
                if i == j:
                    continue
                d = math.dist(out[i][1:], out[j][1:])
                if d < best_d:
                    best_d, best_j = d, j
        cid = out[best_j][0]
        out[best_j] = (
            cid,
            rng.uniform(min_coord, max_coord),
            rng.uniform(min_coord, max_coord),
        )
    return out


def scalable_init(
    points: DataFrame,
    k: int,
    l: int | None = None,
    rounds: int = 5,
    seed: int = 0,
    x: str = "x",
    y: str = "y",
    id_col: str = "point_id",
    draw_fn: str = "xxhash64",
) -> list[Centroid]:
    """k-means|| initialization (Bahmani et al., "Scalable K-Means++",
    VLDB 2012) — the distributed replacement for both the reference's
    random init (KMeans.java:88) and its ``recompnearest`` heuristic
    (KMeans.java:101-116), and for sequential k-means++ (k dependent
    passes): ``rounds`` passes each sample ~``l`` candidates in
    PARALLEL with probability ∝ distance², then the O(l·rounds)
    candidate set is reclustered driver-side.

    Distributed physics per round: one narrow assignment pass against
    the current candidate literals (:func:`assign_points` — no
    join, no shuffle), a scalar Σd² reduce, and a Bernoulli sample
    whose uniform comes from ``xxhash64(id, round, seed)`` — hash-
    derived, so the draw is reproducible under any partitioning /
    re-execution (``rand(seed)`` is partition-layout-dependent).  Per
    round the driver collects only the ~l sampled rows.

    The final weighted k-means++ + Lloyd refinement runs driver-side
    over ≤ l·rounds+1 candidates (weights = points per candidate, one
    more distributed count) — same cost argument as MLlib's
    ``KMeans||`` implementation, which reclusters candidates locally.

    Returns k centroids with ids 0..k-1 (fewer iff the input has fewer
    distinct candidates).

    ``draw_fn`` picks the uniform-draw family, the same split as
    :func:`~flink_kmeans_clustering_spark.operators.dedup.minhash_lsh_pairs`:
    ``"xxhash64"`` (default — fastest, JVM-only) or ``"md5"`` — every
    draw and every order-sensitive reduction becomes replayable by an
    independent SQL engine: uniforms are the first 8 md5-hex chars of
    ``"tag:seed[:round]:point_id"`` over 2³², Σd² and the local
    recluster's weighted sums accumulate in DECIMAL(38,12) (associative
    → partition-order-independent), and the driver-side k-means++ uses
    hash-derived picks instead of ``random.Random``.  The md5 path
    requires ``id_col``.  q_kmeans_scalable's DuckDB oracle replays the
    whole pipeline — rounds, candidate ids, weights, picks, local
    refinement — from the same parquet.
    """
    l = l if l is not None else 2 * k
    u53 = float(1 << 53)

    if draw_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown draw_fn: {draw_fn!r}")
    if draw_fn == "md5" and id_col not in points.columns:
        raise ValueError("draw_fn='md5' needs an id column (engine replay)")

    # Draw key: the id column when the input has one, else the
    # coordinates themselves (the reference's X,Y CSVs carry no id) —
    # still partitioning-independent; exactly-coincident points then
    # share draws, which only nudges the oversampling rate.
    key_cols = (
        [F.col(id_col)] if id_col in points.columns else [F.col(x), F.col(y)]
    )

    # first center: seeded hash-order pick (the paper's uniform point)
    if draw_fn == "md5":
        first_key = F.md5(
            F.concat(F.lit(f"k0:{seed}:"), F.col(id_col).cast("string"))
        )
        first = points.orderBy(first_key).limit(1).collect()
    else:
        first = (
            points.orderBy(F.xxhash64(*key_cols, F.lit(seed)), *key_cols)
            .limit(1)
            .collect()
        )
    if not first:
        return []
    cand: list[tuple[float, float]] = [(float(first[0][x]), float(first[0][y]))]

    for r in range(rounds):
        lits = [(i, cx, cy) for i, (cx, cy) in enumerate(cand)]
        a = assign_points(points, lits, x=x, y=y, dist2_col="_d2")
        if draw_fn == "md5":
            # associative-exact Σd²: any engine summing the same
            # DECIMAL(38,12) terms gets the same phi, in any order
            [row] = a.agg(
                F.sum(F.col("_d2").cast("decimal(38,12)")).alias("phi")
            ).collect()
        else:
            [row] = a.agg(F.sum("_d2").alias("phi")).collect()
        phi = float(row["phi"]) if row["phi"] else 0.0
        if phi <= 0.0:
            break  # every point coincides with a candidate
        if draw_fn == "md5":
            u = md5_int(
                F.concat(F.lit(f"kr:{seed}:{r}:"), F.col(id_col).cast("string"))
            ) / F.lit(4294967296.0)
            new_df = a.filter(u * phi < F.lit(float(l)) * F.col("_d2"))
            # collect in id order: candidate ids must be reproducible,
            # not an artifact of partition-collect order
            new = new_df.select(id_col, x, y).orderBy(id_col).collect()
        else:
            u = (
                F.pmod(
                    F.xxhash64(*key_cols, F.lit(r), F.lit(seed)), F.lit(1 << 53)
                ).cast("double")
                / u53
            )
            new = (
                a.filter(u * phi < F.lit(float(l)) * F.col("_d2"))
                .select(x, y)
                .collect()
            )
        cand.extend((float(p[x]), float(p[y])) for p in new)
        # dedup exact coincidences (re-sampled points add no information)
        cand = list(dict.fromkeys(cand))

    # weights: points per nearest candidate (one distributed count)
    lits = [(i, cx, cy) for i, (cx, cy) in enumerate(cand)]
    counts = {
        int(r["cluster"]): int(r["n"])
        for r in assign_points(points, lits, x=x, y=y)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    weights = [float(counts.get(i, 0)) for i in range(len(cand))]

    if len(cand) <= k:
        return [(i, cx, cy) for i, (cx, cy) in enumerate(cand)]
    if draw_fn == "md5":
        picked = _weighted_kmeanspp_hash(cand, weights, k, seed)
        refined = _weighted_lloyd_local_exact(cand, weights, picked, iters=5)
    else:
        picked = _weighted_kmeanspp(cand, weights, k, seed)
        refined = _weighted_lloyd_local(cand, weights, picked, iters=5)
    return [(i, cx, cy) for i, (cx, cy) in enumerate(refined)]


def _weighted_kmeanspp(
    cand: list[tuple[float, float]],
    w: list[float],
    k: int,
    seed: int,
) -> list[tuple[float, float]]:
    """Sequential weighted k-means++ over the (small) candidate set."""
    rng = random.Random(seed)
    # first pick ∝ weight (fall back to uniform if all weights are 0)
    total = sum(w)
    probs = [wi / total for wi in w] if total > 0 else None
    centers = [cand[_draw(rng, probs, len(cand))]]
    d2 = [math.dist(c, centers[0]) ** 2 for c in cand]
    while len(centers) < k:
        mass = [wi * di for wi, di in zip(w, d2)]
        tot = sum(mass)
        if tot <= 0.0:
            # all remaining mass is zero: top up with unpicked candidates
            for c in cand:
                if c not in centers:
                    centers.append(c)
                    if len(centers) == k:
                        break
            break
        nxt = cand[_draw(rng, [m / tot for m in mass], len(cand))]
        centers.append(nxt)
        d2 = [min(di, math.dist(c, nxt) ** 2) for c, di in zip(cand, d2)]
    return centers


def _weighted_kmeanspp_hash(
    cand: list[tuple[float, float]],
    w: list[float],
    k: int,
    seed: int,
) -> list[tuple[float, float]]:
    """Weighted k-means++ with md5-derived picks and DECIMAL-exact
    cumulative sums — the engine-replayable twin of
    :func:`_weighted_kmeanspp`.

    Pick j crosses the cumulative (weight·d²) mass at the uniform
    ``md5_u32("pp:seed:j") / 2³²``: cum and total accumulate as quantized
    Decimals (order-exact), comparisons happen on their nearest
    doubles — precisely ``CAST(SUM(CAST(mass AS DECIMAL(38,12))) OVER
    (ORDER BY cid) AS DOUBLE) > u * CAST(total AS DOUBLE)`` in SQL.
    Distances are the naive ``dx²+dy²`` (NOT ``math.dist``, whose
    scaled evaluation differs from SQL arithmetic by an ulp).
    """
    from decimal import Decimal

    q12 = Decimal("1e-12")

    def _cross(mass: list[Decimal], u: float) -> int:
        total = Decimal(0)
        for m in mass:
            total += m
        target = u * float(total)
        acc = Decimal(0)
        for i, m in enumerate(mass):
            acc += m
            if float(acc) > target:
                return i
        return len(mass) - 1

    w_mass = [Decimal(wi).quantize(q12) for wi in w]
    if sum(w_mass) <= 0:
        w_mass = [Decimal(1)] * len(cand)  # degenerate: uniform
    centers = [cand[_cross(w_mass, md5_u32(f"pp:{seed}:0") / 4294967296.0)]]
    d2 = [
        (cx - centers[0][0]) ** 2 + (cy - centers[0][1]) ** 2
        for cx, cy in cand
    ]
    while len(centers) < k:
        mass = [Decimal(wi * di).quantize(q12) for wi, di in zip(w, d2)]
        if sum(mass) <= 0:
            # all remaining mass is zero: top up with unpicked candidates
            for c in cand:
                if c not in centers:
                    centers.append(c)
                    if len(centers) == k:
                        break
            break
        j = len(centers)
        nxt = cand[_cross(mass, md5_u32(f"pp:{seed}:{j}") / 4294967296.0)]
        centers.append(nxt)
        d2 = [
            min(di, (cx - nxt[0]) ** 2 + (cy - nxt[1]) ** 2)
            for (cx, cy), di in zip(cand, d2)
        ]
    return centers


def _weighted_lloyd_local_exact(
    cand: list[tuple[float, float]],
    w: list[float],
    centers: list[tuple[float, float]],
    iters: int,
) -> list[tuple[float, float]]:
    """:func:`_weighted_lloyd_local` with DECIMAL-exact weighted sums —
    each term ``w·x`` quantizes to 12 decimal places and accumulates
    exactly, so an engine summing the same terms in ANY order (SQL
    ``SUM(CAST(w*x AS DECIMAL(38,12)))``) lands on the same mean.
    Assignment ties break to the lowest center index (= ``ORDER BY
    d2, pid`` in the replay)."""
    from decimal import Decimal

    q12 = Decimal("1e-12")
    cur = list(centers)
    for _ in range(iters):
        zero = Decimal(0)
        sums = [[zero, zero, zero] for _ in cur]
        for (cx, cy), wi in zip(cand, w):
            if wi <= 0.0:
                continue
            j = min(
                range(len(cur)),
                key=lambda i: ((cx - cur[i][0]) ** 2 + (cy - cur[i][1]) ** 2, i),
            )
            sums[j][0] += Decimal(wi * cx).quantize(q12)
            sums[j][1] += Decimal(wi * cy).quantize(q12)
            sums[j][2] += Decimal(wi).quantize(q12)
        nxt = [
            (float(sx) / float(sw), float(sy) / float(sw)) if sw > 0 else cur[i]
            for i, (sx, sy, sw) in enumerate(sums)
        ]
        if nxt == cur:
            break
        cur = nxt
    return cur


def _draw(rng: random.Random, probs: list[float] | None, n: int) -> int:
    if probs is None:
        return rng.randrange(n)
    r = rng.random()
    acc = 0.0
    for i, p in enumerate(probs):
        acc += p
        if r < acc:
            return i
    return n - 1


def _weighted_lloyd_local(
    cand: list[tuple[float, float]],
    w: list[float],
    centers: list[tuple[float, float]],
    iters: int,
) -> list[tuple[float, float]]:
    """A few weighted Lloyd steps over the candidate set (driver-side)."""
    cur = list(centers)
    for _ in range(iters):
        sums = [[0.0, 0.0, 0.0] for _ in cur]  # Σwx, Σwy, Σw
        for (cx, cy), wi in zip(cand, w):
            if wi <= 0.0:
                continue
            j = min(
                range(len(cur)),
                key=lambda i: (cx - cur[i][0]) ** 2 + (cy - cur[i][1]) ** 2,
            )
            sums[j][0] += wi * cx
            sums[j][1] += wi * cy
            sums[j][2] += wi
        nxt = [
            (sx / sw, sy / sw) if sw > 0 else cur[i]
            for i, (sx, sy, sw) in enumerate(sums)
        ]
        if nxt == cur:
            break
        cur = nxt
    return cur


# ---------------------------------------------------------------------------
# n-dimensional vector-column generalization (SURVEY §1.3)
# ---------------------------------------------------------------------------


def assign_points_nd(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist2_col: str | None = None,
    centroid_ids: Sequence[int] | None = None,
) -> DataFrame:
    """O1/O7 assignment generalized from (x, y) to a vector column —
    the reference hardcodes 2-D; the Spark-native data model is
    ``array<double>`` (SURVEY §1.3).  One ``mapInArrow`` runs the numpy
    nearest-codeword kernel
    (:func:`~flink_kmeans_clustering_spark.functions.vector.assign_nearest`)
    over each Arrow batch: dist² folds the squared differences in index
    order from 0.0, so an independent engine summing the same doubles in
    the same order lands on the same double, and the scan keeps the
    strict-< lowest-id tie-break.  A narrow map: no join, no shuffle,
    any dim.  A row whose vector is NULL, of another length or holds a
    NULL element has a NULL dist² and takes the lowest id.

    ``centroid_ids`` (default: positions) are the labels EMITTED — pass
    the surviving original ids in an iterative loop so labels stay
    persistent when a cluster empties (the 2-D :func:`assign_points`
    semantics; the tie-break then runs on the original id).  A
    non-finite centroid raises ``ValueError``.
    """
    if not centroids:
        return _with_argmin(vectors, None, cluster_col, dist2_col)
    return assign_nearest(
        vectors, vec_col, [centroids], [centroid_ids], cluster_col, dist2_col
    )


def lloyd_nd(
    vectors: DataFrame,
    init_centroids: Sequence[Sequence[float]],
    max_iterations: int = 10,
    vec_col: str = "embedding",
    cache: bool = True,
) -> tuple[list[list[float]], float, list[int]]:
    """O5 bulk iteration over a vector column: the driver loop of
    :func:`lloyd` with the n-dim assign/update pair.  Returns (final
    centroids ordered by id, final WCSS scalar, surviving centroid
    ids).  Empty clusters drop — reference semantics — and ids stay
    PERSISTENT across iterations (an emptied cluster's id is retired,
    not recycled by position), matching the 2-D :func:`lloyd` and the
    DuckDB oracle's id-carrying CTE chain.

    Each superstep is ONE ``mapInArrow`` stage with no exchange
    (:func:`~flink_kmeans_clustering_spark.functions.vector.label_sums`
    with the current centroids as the codebook): every partition
    assigns its rows with the numpy kernel and emits its k×(d+1) sums
    and counts, folded in row order; the driver adds them in partition
    order and divides, so the centroids do not depend on scheduling.
    The final WCSS is a row-order fold per partition, added in
    partition order
    (:func:`~flink_kmeans_clustering_spark.functions.vector.nearest_dist2_sum`).
    No session conf is touched.  With ``cache`` the input is cached for
    the loop and released afterwards, unless the caller had cached it."""
    cache = cache and not vectors.is_cached
    if cache:
        vectors = vectors.cache()
    current = [list(map(float, c)) for c in init_centroids]
    ids = list(range(len(current)))
    try:
        for _ in range(max_iterations):
            [sums] = label_sums(vectors, vec_col, codebooks=[current], ids=[ids])
            ids = sorted(sums)
            # one IEEE double division per component
            current = [(sums[i][1] / sums[i][0]).tolist() for i in ids]
        wcss = nearest_dist2_sum(vectors, vec_col, current, ids)
    finally:
        if cache:
            vectors.unpersist()
    return current, wcss, ids


def _decimal_sums_sql(dim: int, vec_col: str) -> list[str]:
    """The per-dim DECIMAL(25,8) sums of the spherical mean update, as
    SQL aggregate items ``sum(...) AS _s{j}``: each component is its own
    SUM in one HashAggregate, so the shuffle carries k rows × (dim+1)
    values — not the N×dim row blowup a posexplode would ship.  Each
    SUM input casts the ELEMENT, not the array: a whole-array
    ``transform`` cast would be re-inlined into all ``dim`` inputs."""
    v = quote_ident(vec_col)
    return [
        f"sum(CAST(CAST(element_at({v}, {j + 1}) AS DOUBLE) AS DECIMAL(25,8))) AS _s{j}"
        for j in range(dim)
    ]


def normalize_unit_nd(
    vectors: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Project a vector column onto the unit sphere: the preprocessing
    step of spherical K-Means.  Each vector becomes
    :func:`~flink_kmeans_clustering_spark.functions.vector.l2_normalize_sql`
    of its doubles (the norm folded once per row, index-sequential, so
    the normalized values are bit-identical to any engine's left-fold
    ``list_sum``), and rows with no unit vector (NULL, empty, zero,
    NULL-element, NaN or overflowing) are dropped."""
    v = f"CAST({quote_ident(vec_col)} AS array<double>)"
    return vectors.withColumn(vec_col, F.expr(l2_normalize_sql(v))).filter(
        F.col(quote_ident(vec_col)).isNotNull()
    )


def spherical_kmeans_nd(
    vectors: DataFrame,
    init_centroids: Sequence[Sequence[float]],
    max_iterations: int = 3,
    vec_col: str = "embedding",
    cache: bool = True,
) -> tuple[list[list[float]], list[int]]:
    """Spherical K-Means (Dhillon & Modha, Mach. Learn. 2001): Lloyd
    on the unit sphere — inputs L2-normalized once, and each mean
    re-projected onto the sphere after the update, so the objective is
    cosine similarity rather than raw Euclidean distance.  This is the
    K-Means an embedding corpus wants (IVF cells for cosine ANN,
    semantic-dedup blocks): without the renormalization, long documents
    would drag centroids off the shell and cosine cells skew.

    Engine-replayable by construction: assignment is
    :func:`assign_points_nd` (argmin of index-ordered dist² folds on
    unit vectors — monotone in cosine); per-dim mean sums accumulate in
    DECIMAL(25,8) SQL sums over those labels (normalized components are
    full-mantissa doubles, so plain double sums would depend on the
    partition order — the float32 exactness behind :func:`lloyd_nd`'s
    double sums does NOT carry over, and a numpy decimal sum would have
    to reproduce Spark's double-to-decimal cast exactly);
    renormalization happens driver-side on the k collected means with a
    sequential left-fold, matching an oracle's list_sum.  Clusters that
    empty OR whose mean is exactly zero drop (reference drop-semantics
    extended with the spherical degeneracy).  For the loop AQE is off
    and ``spark.sql.shuffle.partitions`` is k (restored afterwards):
    each superstep's exchange carries at most k rows per partition.

    Returns (unit centroids ordered by id, surviving centroid ids).
    """
    unit = normalize_unit_nd(
        vectors.select("*"), vec_col=vec_col
    ).select(quote_ident(vec_col))
    if cache:
        unit = unit.cache()
    dim = len(init_centroids[0])

    def _unitize(c: Sequence[float]) -> list[float] | None:
        s = 0.0
        for x in c:  # sequential fold — list_sum order
            s += x * x
        if s <= 0:
            return None
        n = math.sqrt(s)
        return [float(x) / n for x in c]

    current = [u for u in (_unitize(c) for c in init_centroids) if u]
    ids = list(range(len(current)))
    spark = vectors.sparkSession
    # order-exact decimal sums, built once for every superstep
    sums = [F.expr(item) for item in _decimal_sums_sql(dim, vec_col)]
    loop_conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(max(1, len(current))),
    }
    try:
        with session_conf(spark, loop_conf):
            for _ in range(max_iterations):
                rows = (
                    assign_points_nd(
                        unit, current, vec_col=vec_col,
                        cluster_col="_cluster", centroid_ids=ids,
                    )
                    .groupBy(F.col("_cluster").alias("id"))
                    .agg(*sums, F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                rows.sort(key=lambda r: r["id"])
                nxt_ids, nxt = [], []
                for r in rows:
                    mu = [float(r[f"_s{j}"]) / r["n"] for j in range(dim)]
                    u = _unitize(mu)
                    if u is not None:
                        nxt_ids.append(int(r["id"]))
                        nxt.append(u)
                ids, current = nxt_ids, nxt
    finally:
        if cache:
            unit.unpersist()
    return current, ids
