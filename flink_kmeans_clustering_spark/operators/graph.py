"""Graph analytics over candidate-pair graphs.

The near-dup pipeline's pair lists are graphs; ``dedup.
connected_components`` answers "which docs are the same?", this module
answers "which docs are CENTRAL?" — e.g. PageRank over the similarity
graph surfaces template/boilerplate hubs (a page near-duplicated by
thousands of others) that plain pair counts miss.

Execution discipline: the edge list is materialized once, every
superstep is one equi-join + one grouped sum (both hash-partitioned on
node id, so the exchange is reused), the driver loop holds only loop
control, and ``localCheckpoint`` truncates lineage so step N's plan
does not replay steps 1..N-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 1,
) -> DataFrame:
    """Undirected co-occurrence edge list: items sharing ≥ ``min_support``
    groups.

    The graph-construction step of recommendation / basket analysis
    ("parts bought together").  The self-join is keyed on the GROUP —
    one shuffle by group id, pair blowup bounded by the largest group
    (items-per-order here, not corpus size); the canonical ``a < b``
    ordering plus the grouped count collapses multiplicity.

    ``min_support`` is the classic market-basket pruning knob: on a
    low-cardinality item domain the support-1 graph saturates toward a
    clique union (every popular item co-occurs with every other at
    least once somewhere) and EVERY downstream graph algorithm pays for
    edges that carry no signal.  Support ≥ 2 keeps only pairs that
    co-occur more often than a single coincidence — at 100 TB this is
    the difference between a graph that fits its algorithms and one
    that is quadratic noise.

    Output: (id_a, id_b) with ``id_a < id_b``, each pair once.

    (group, item) dedups BEFORE the self-join so support counts
    DISTINCT shared groups, exactly as documented — without it an item
    listed twice in one group (duplicate l_partkey lines in an order)
    would inflate the pair's support multiplicatively.  The distinct is
    a map-side-combined aggregate on the same group key the join
    shuffles on, so it adds no extra exchange.
    """
    d = df.select(F.col(group_col).alias("_g"), F.col(item_col).alias("_i")).distinct()
    a = d.select("_g", F.col("_i").alias("id_a"))
    b = d.select("_g", F.col("_i").alias("id_b"))
    pairs = (
        a.join(b, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_support"))
    )
    if min_support > 1:
        pairs = pairs.filter(F.col("_support") >= min_support)
    return pairs.select("id_a", "id_b")


def triangle_counts(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    The clustering-coefficient numerator (community density, spam-farm
    detection over link graphs).  Uses the degree-ordered orientation
    (Schank & Wagner 2005 / Suri & Vassilvitskii WWW'11 "Counting
    triangles and the curse of the last reducer"): every edge is
    directed from its lower (degree, id) endpoint to the higher, so
    wedge enumeration at an apex of degree d generates O(d²) pairs only
    for nodes whose ORIENTED out-degree is small — total wedge work is
    O(m^{3/2}) instead of Σ deg² (which a hub node makes quadratic).
    Two shuffles: wedge join on the apex, existence join on the closing
    edge; each triangle is found exactly once.

    Output: (``node_col``, n_triangles) for nodes in ≥1 triangle.
    """
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranked = (
        both.join(deg, "u")
        .withColumnRenamed("deg", "deg_u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
        )
    )
    # orient low (deg, id) -> high (deg, id): a strict total order, so
    # each undirected edge appears exactly once
    directed = ranked.filter(
        (F.col("deg_u") < F.col("deg_v"))
        | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    directed = directed.localCheckpoint()  # 3 consumers; edge-list sized
    w1 = directed.select(F.col("src").alias("apex"), F.col("dst").alias("x"))
    w2 = directed.select(F.col("src").alias("apex"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "apex").filter(F.col("x") < F.col("y"))
    closing = directed.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).select(
        F.explode(F.array("apex", "x", "y")).alias(node_col)
    )
    return tri.groupBy(node_col).agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    pairs: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "id",
    rank_col: str = "rank",
    round_to: int | None = 6,
) -> DataFrame:
    """PageRank over an UNDIRECTED pair graph, fixed iteration count.

    rank'(v) = (1−d)/N + d · Σ_{u∼v} rank(u)/deg(u), starting from the
    uniform 1/N.  An undirected pair graph has no dangling nodes (every
    node in a pair has degree ≥ 1), so no dangling-mass redistribution
    term is needed — the classic formulation is exact here.

    A FIXED iteration count (not a convergence test) keeps the result
    closed-form: an oracle can unroll the same ``iterations`` levels of
    join+sum SQL and match value-for-value (rounding only at the end;
    float noise after a handful of iterations is ~1e-15 relative, far
    inside a 1e-6 grid for ranks of magnitude 1/N).

    Output: (``node_col``, ``rank_col``) for every node in the graph.
    """
    p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    p = p.localCheckpoint()
    edges = p.union(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # contribution edge list: (src, dst, 1/deg) — deg is static, join once
    contrib = edges.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("inv_deg")
    )
    contrib = contrib.localCheckpoint()
    # N scales every rank (the (1−d)/N term and the 1/N start), so it is
    # an exact count: accumulator-based observed metrics can over-count
    # when a task is retried
    n = deg.count()
    if n == 0:
        edges.unpersist()
        return pairs.sparkSession.createDataFrame(
            [], f"{node_col} long, {rank_col} double"
        )
    base = (1.0 - damping) / n
    ranks = deg.select("src", F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        incoming = (
            contrib.join(ranks, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("inv_deg")).alias("in_r"))
        )
        # every node has incoming mass in an undirected pair graph, so
        # the join-back is inner and total mass is conserved
        ranks = incoming.select(
            F.col("dst").alias("src"),
            (F.lit(base) + F.lit(damping) * F.col("in_r")).alias("r"),
        ).localCheckpoint()
    edges.unpersist()
    r = F.col("r")
    if round_to is not None:
        r = F.round(r, round_to)
    return ranks.select(
        F.col("src").alias(node_col), r.alias(rank_col)
    )
