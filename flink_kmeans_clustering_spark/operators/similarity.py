"""Similarity search over embedding columns (SURVEY.md §2.6).

Two paths, one semantics:

* :func:`topk_cosine` — exact brute-force top-k.  The ORDER BY + LIMIT
  plan compiles to ``TakeOrderedAndProject``: each partition keeps its
  own k best rows and only k·partitions rows ever reach the driver — no
  global sort, no shuffle of the scan.  This is the right baseline even
  at cluster scale (it's a single pass over the data).
* :func:`ann_search` — IVF-style approximate search: vectors are
  pre-assigned to coarse cells (k-means centroids at corpus scale —
  see :mod:`~flink_kmeans_clustering_spark.operators.kmeans_ml`); a
  query ranks the cell centroids driver-side, probes the best
  ``n_probe`` cells, and brute-forces only inside them.  With the table
  written partitioned-by-cell, the probe filter becomes partition
  pruning — the 100 TB scan shrinks to the probed cells' files.

Product quantization has one form per step: codebooks from
:func:`pq_codebooks_first` (trainless, the checked contract) or
:func:`pq_codebooks_trained` (all subspaces in one Lloyd pass per
iteration); and one encode + ADC shortlist + exact-rerank tail,
:func:`_adc_rerank`, shared by :func:`ann_pq` and :func:`ann_ivfpq`.

Every nearest-codeword argmin here is the one numpy kernel over Arrow
batches in functions.vector: cell means (:func:`cell_centroids`) and
PQ training are its per-partition sums (``label_sums``), added on the
driver; PQ encoding is its ``mapInArrow`` pass (``assign_nearest``).
The rest of the per-row vector arithmetic is JVM-side, built from the
SQL-text folds of functions.vector: squared L2 is ``squared_l2_sql``,
and every cosine is ``cosine_sql`` over norms (``norm_sql``) computed
once per row, below any join, so a scored pair folds only its dot.
Query vectors enter the plan as literal arrays, and a literal query's
norm is folded once on the driver, in the same order.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.common import (
    array_lit_sql,
    fresh_name,
    quote_ident,
    spread,
)
from flink_kmeans_clustering_spark.functions.vector import (
    assign_nearest,
    cosine_sql,
    dot_sql,
    label_sums,
    norm_sql,
    squared_l2_sql,
)


def _double_sql(x: float) -> str:
    """A double as SQL text; a non-finite one as a cast from its name,
    which the optimizer folds to a literal."""
    return repr(x) + "D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _norm(v: Sequence[float]) -> float:
    """:func:`norm_sql` on the driver: the same fold in the same order,
    so the same double."""
    ss = 0.0
    for x in v:
        ss += x * x
    return math.sqrt(ss)


def _cosine(a: Sequence[float] | None, b: Sequence[float] | None) -> float | None:
    """:func:`cosine_sql` on the driver, with its NULL (None) rule: a
    NULL vector or element, a length mismatch or a norm product of 0."""
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    a, b = [float(x) for x in a], [float(x) for x in b]
    den = _norm(a) * _norm(b)
    if den == 0.0:
        return None
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    return dot / den


def _query_cosine(query_vec: Sequence[float], round_to: int | None) -> Column:
    """The cosine of each row's ``_v`` to a literal query vector,
    rounded to ``round_to``.  The query's norm is folded once, on the
    driver (:func:`_norm`), not once per row."""
    q = [float(v) for v in query_vec]
    qv = "array(" + ", ".join(map(_double_sql, q)) + ")"
    sim = cosine_sql("_v", qv, norm_sql("_v"), _double_sql(_norm(q)))
    return F.expr(sim if round_to is None else f"round({sim}, {round_to})")


def topk_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact top-k rows by cosine similarity to a literal query vector.

    Deterministic order: (similarity DESC, id ASC); ties at equal
    (rounded) similarity always resolve the same way.  ``round_to``
    rounds the similarity *before* ranking so an independent engine
    computing the same values in a different summation order ranks
    identically (oracle determinism, FIXTURES.md).

    Rows whose vector length differs from the query get NULL cosine
    (``zip_with`` null-pads) and sort last — they never displace a
    real result.
    """
    scored = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    return (
        scored.select(F.col(id_col), _query_cosine(query_vec, round_to).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cell_centroids(
    df: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell mean vector: (cell, centroid array<double>, n).

    The cell sums are the numpy kernel's per-partition sums
    (:func:`~flink_kmeans_clustering_spark.functions.vector.label_sums`:
    one job, no exchange), added on the driver in partition order, and
    the result is a driver-side frame.  ``centroid[j]`` is the mean of
    the cell's non-null elements at index j, as long as the cell's
    longest vector (NULL where it has none); ``n`` counts the cell's
    rows.  Rows with a NULL cell and cells with no element are left
    out.
    """
    [sums] = label_sums(df, vec_col, label_col=cell_col)
    rows = [
        (cell, [float(s[j] / c[j]) if c[j] else None for j in range(w)], n)
        for cell, (n, s, c, w) in sorted(sums.items())
        if w > 0
    ]
    cell_type = df.select(quote_ident(cell_col)).schema[0].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        rows, f"cell {cell_type}, centroid array<double>, n bigint"
    )


def ann_search(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """IVF probe search: rank cells driver-side, scan only the best cells.

    ``centroids`` is the small driver-side cell → centroid list (from
    :func:`cell_centroids` ``.collect()`` or an MLlib k-means model).
    The ``isin(probed)`` filter is pushed into the scan; on a
    cell-partitioned table that is partition pruning.
    """
    probed = [c for c, _ in _probe_cells(centroids, list(query_vec), n_probe)]
    pruned = df.filter(F.col(cell_col).isin(probed))
    return topk_cosine(
        pruned, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def _probe_cells(
    centroids: list[tuple[int, list[float]]], q: Sequence[float], n_probe: int
) -> list[tuple[int, list[float]]]:
    """The ``n_probe`` cells :func:`ann_search` and :func:`ann_ivfpq`
    probe, ranked driver-side by the order :func:`ivf_knn_join` ranks
    cells in: cosine of the centroid to ``q`` (:func:`_cosine`)
    descending, NaN above every number as Spark sorts it, an undefined
    (NULL) cosine after every defined one, ties to the lowest cell."""

    def key(cell: tuple[int, list[float]]) -> tuple:
        cos = _cosine(cell[1], q)
        if cos is None:
            return (2, 0.0, cell[0])
        return (0, 0.0, cell[0]) if math.isnan(cos) else (1, -cos, cell[0])

    return sorted(centroids, key=key)[:n_probe]


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """k-NN JOIN: top-k cosine neighbors per QUERY ROW (a batch of
    queries, not one literal vector — the retrieval shape of embedding
    pipelines: "for every eval prompt, its nearest training docs").

    Execution: the query side is broadcast (it is small by contract —
    a query batch, not a corpus), so the corpus is scanned ONCE with no
    shuffle for the join; the per-query ranking is a window
    ``row_number() ≤ k`` which Spark compiles to ``WindowGroupLimit`` —
    each input partition pre-filters to its own top-k per query BEFORE
    the single shuffle on query_id, so the exchange carries at most
    k·queries·partitions rows instead of queries×corpus.  At 100 TB
    this is the scan-bound plan: broadcast, narrow score, bounded
    exchange.

    Determinism (FIXTURES.md): cosine rounded to ``round_to`` BEFORE
    ranking, ties broken by neighbor id ascending; NULL cosines (zero
    vectors) rank after every real neighbor and are dropped.

    Output: (query_id, neighbor_id, cosine, rnk), rnk in 1..k.
    """
    q = _query_batch(queries, query_id_col, query_vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_vn", F.expr(norm_sql("_v")))
    return _top_k_per_query(c.join(F.broadcast(q)), k, round_to)


def _query_batch(queries: DataFrame, query_id_col: str, query_vec_col: str) -> DataFrame:
    """(query_id, ``_qv``, ``_qn``): each query vector and its norm."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", F.expr(norm_sql("_qv")))


def _top_k_per_query(pairs: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """The tail :func:`knn_join` and :func:`ivf_knn_join` share: the
    cosine of each (``_v``, ``_qv``) pair from the norms ``_vn`` and
    ``_qn`` computed below the join (one dot per pair), rounded, then
    the top k per query by (cosine desc, neighbor_id asc) through a
    ``row_number() ≤ k`` window (``WindowGroupLimit``), NULLs dropped.
    A NULL sorts last under DESC, so dropping it after the window keeps
    the same rows and ranks, and the cosine is not evaluated a second
    time in a filter pushed into the join."""
    sim = cosine_sql("_v", "_qv", "_vn", "_qn")
    if round_to is not None:
        sim = f"round({sim}, {round_to})"
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", F.expr(sim).alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= k) & F.col("cosine").isNotNull())
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def random_hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic seeded Gaussian hyperplanes for sign-LSH.

    Generated driver-side (numpy PCG via RandomState for cross-version
    stability) and passed into plans / oracles as float64 literals, so
    any engine sharing the literals buckets identically.
    """
    import numpy as np

    rs = np.random.RandomState(seed)
    return [[float(v) for v in row] for row in rs.standard_normal((n_planes, dim))]


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id of an ``array<double>`` SQL expression:
    bit i = (vec · plane_i) > 0.

    A narrow in-scan expression — at corpus scale the bucket id is the
    column you write ``partitionBy``, making probe filters partition
    pruning exactly like IVF cells.
    """
    return F.expr(
        " + ".join(
            f"CASE WHEN {dot_sql(vec, array_lit_sql(p))} > 0.0D THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        )
    )


def ann_lsh(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 4,
    seed: int = 7,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
):
    """LSH-bucketed ANN: sign-random-projection buckets, multi-probe.

    The scale path when no trained IVF index exists: bucket assignment
    is pure per-row arithmetic computed in-scan (no training job, no
    shuffle), and the query probes its own bucket plus all buckets
    within ``max_hamming`` bit flips — the standard multi-probe recall
    fix for near-boundary vectors.  The probe set is computed
    driver-side (2^n_planes is small by construction) and pushed as an
    ``isin`` filter → partition pruning on a bucket-partitioned table.

    Candidates are exactly re-ranked by :func:`topk_cosine`, so output
    columns and determinism rules match the exact path.
    """
    planes = random_hyperplanes(n_planes, len(query_vec), seed)
    qbits = [
        1 << i
        for i, p in enumerate(planes)
        if sum(x * y for x, y in zip(query_vec, p)) > 0.0
    ]
    qbucket = sum(qbits)
    probe = [qbucket]
    if max_hamming >= 1:
        probe += [qbucket ^ (1 << i) for i in range(n_planes)]
    # max_hamming > 1 not needed at these bucket counts; extend with
    # itertools.combinations over bit pairs if it ever is.
    bucketed = df.withColumn(
        "_bucket", lsh_bucket(f"CAST({quote_ident(vec_col)} AS array<double>)", planes)
    )
    pruned = bucketed.filter(F.col("_bucket").isin(probe)).drop("_bucket")
    return topk_cosine(
        pruned, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def _quantize_query_int8(query_vec: Sequence[float]) -> list[int]:
    """Driver-side int8 quantization of the query vector.

    Half-away-from-zero rounding — the rule both Spark's ``F.round``
    and DuckDB's ``round`` apply to doubles — so the literal the plan
    embeds equals what either engine computes from the same values.
    """
    amax = max(abs(float(v)) for v in query_vec)
    if amax == 0.0:
        return [0 for _ in query_vec]
    scale = 127.0 / amax
    return [
        int(math.floor(abs(float(v)) * scale + 0.5)) * (1 if v >= 0 else -1)
        for v in query_vec
    ]


def ann_quantized(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Two-stage ANN over int8 scalar-quantized vectors.

    The memory-bound scale path: per-vector symmetric quantization
    (scale = 127 / max|x|) shrinks a float32 corpus 4× — at 100 TB
    that is the difference between spilling and RAM-resident scans —
    and the first-pass score is an integer dot product.  Every product
    |q| ≤ 127² and a 64-dim sum stays < 2²⁰, so the int arithmetic is
    EXACT in doubles and bit-identical across engines.  The shortlist
    (top ``shortlist`` by quantized cosine, id-tie-broken) is then
    re-ranked with the full-precision cosine — both stages compile to
    TakeOrderedAndProject, no global sort.

    Output: (vec_id, approx_cosine, cosine) — the quantized score is
    kept beside the exact one so recall loss is observable.
    """
    qq = _quantize_query_int8(query_vec)
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / amax
    qv = F.transform(v, lambda x: F.round(x * scale, 0))
    base = df.select(
        F.col(id_col),
        v.alias("_v"),
        F.when(amax > 0.0, qv).alias("_q"),
    ).filter(F.col("_q").isNotNull())
    approx = F.expr(
        f"{dot_sql('_q', array_lit_sql(qq))} / ({norm_sql('_q')} * {_double_sql(_norm(qq))})"
    )
    if round_to is not None:
        approx = F.round(approx, round_to)
    scored = base.select(
        F.col(id_col), "_v", approx.alias("approx_cosine")
    ).filter(F.col("approx_cosine").isNotNull())
    short = scored.orderBy(F.desc("approx_cosine"), F.col(id_col)).limit(shortlist)
    exact = _query_cosine(query_vec, round_to)
    return (
        short.select(F.col(id_col), "approx_cosine", exact.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _sign_word(vec, offset: int, width: int = 32):
    """Pack ``width`` sign bits (v[offset+i] > 0 → bit i) into a long.

    The fold sums exact powers of two in doubles (every 2^i for
    i < 32 is exactly representable, and the sum < 2^32 < 2^53), then
    casts — pure built-in arithmetic, identical in any IEEE engine, no
    shift builtins whose signedness rules differ across engines.
    """
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(width - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.when(
            F.element_at(vec, i + F.lit(offset + 1)) > 0.0,
            F.pow(F.lit(2.0), i.cast("double")),
        ).otherwise(F.lit(0.0)),
    ).cast("long")


def _sign_words_py(query_vec: Sequence[float]) -> tuple[int, int]:
    """Driver-side twin of :func:`_sign_word` for the query literal."""
    lo = sum(1 << i for i in range(32) if query_vec[i] > 0.0)
    hi = sum(1 << i for i in range(32) if query_vec[32 + i] > 0.0)
    return lo, hi


def ann_binary(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Two-stage ANN over 1-bit (sign-binarized) vectors.

    The extreme-compression scale path: each 64-dim float vector
    collapses to TWO 32-bit sign words — 32× smaller than float32, the
    representation that keeps a 100 TB embedding corpus's first-pass
    index in memory on a modest cluster.  The first-pass score is the
    Hamming distance to the query's code (``bit_count(xor)`` — integer
    ALU work inside whole-stage codegen, no float math at all); the
    ``shortlist`` best (Hamming ASC, id ASC — exact integer ordering,
    fully deterministic) are re-ranked by exact cosine.  Both cuts
    compile to TakeOrderedAndProject: no global sort, k·partitions
    rows to the driver.

    Unlike :func:`ann_lsh` (random hyperplanes → bucket pruning), the
    code here IS the data's own sign pattern — no projection matrix to
    ship, and distance is RANKED (graded recall) rather than
    bucket-thresholded.

    Output: (vec_id, hamming, cosine).
    """
    if len(query_vec) != 64:
        raise ValueError("ann_binary packs exactly 64 dims (2×32-bit words)")
    qlo, qhi = _sign_words_py(query_vec)
    v = F.col(vec_col).cast("array<double>")
    coded = df.filter(F.size(F.col(vec_col)) == 64).select(
        F.col(id_col),
        v.alias("_v"),
        _sign_word(v, 0).alias("_lo"),
        _sign_word(v, 32).alias("_hi"),
    )
    hamming = (
        F.bit_count(F.col("_lo").bitwiseXOR(F.lit(qlo)))
        + F.bit_count(F.col("_hi").bitwiseXOR(F.lit(qhi)))
    ).cast("int")
    short = (
        coded.select(F.col(id_col), "_v", hamming.alias("hamming"))
        .orderBy(F.col("hamming"), F.col(id_col))
        .limit(shortlist)
    )
    exact = _query_cosine(query_vec, round_to)
    return (
        short.select(F.col(id_col), "hamming", exact.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def pq_codebooks_first(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Data-derived PQ codebooks WITHOUT a training job: codeword c of
    subspace s is the s-th subvector of the (c+1)-th vector by id.

    The deterministic, any-engine-replayable codebook contract the
    CHECKED query uses (same family split as the md5 hash lanes);
    production trains each subspace with :func:`pq_codebooks_trained`
    — the encode/ADC/rerank plumbing is identical either way.
    Returns ``codebooks[s][c] = list[d/m floats]``.
    """
    rows = df.orderBy(id_col).limit(k).collect()
    return _subvectors([r[vec_col] for r in rows], m)


def _subvectors(vecs: list[Sequence[float]], m: int) -> list[list[list[float]]]:
    """``vecs`` cut into m equal slices: ``out[s][c]`` is the s-th slice
    of ``vecs[c]``, as floats.  The first vector's length sets the
    dimension; one not divisible by ``m`` raises ``ValueError``."""
    vecs = [[float(v) for v in vec] for vec in vecs]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [[vec[s * d : (s + 1) * d] for vec in vecs] for s in range(m)]


def pq_codebooks_trained(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Trained PQ codebooks: the ``m`` subspace k-means run together,
    one Spark job per iteration.

    An iteration is one ``mapInArrow`` pass over the corpus with no
    exchange
    (:func:`~flink_kmeans_clustering_spark.functions.vector.label_sums`
    with m codebooks over m equal slices): each partition assigns every
    subvector to its subspace's nearest codeword with the numpy kernel
    and folds per-(subspace, code) sums in row order; the driver adds
    the partitions in partition order and divides.  The corpus is
    scanned iters times, not m·iters as m separate Lloyd runs would, and
    no session conf is touched.  A subvector with a missing or null
    element takes its subspace's lowest id and still counts in that
    code's ``n``.  Codeword ids are PERSISTENT per subspace (an emptied
    cluster's id retires — lloyd_nd semantics), and the returned list
    orders codewords by surviving id, matching the replaying oracle's
    dense re-rank.

    Deterministic given the data: init = the first k vectors by
    ``id_col``, sliced per subspace.  Returns
    ``codebooks[s][c] = list[d/m floats]`` (possibly ragged).
    """
    init = df.orderBy(id_col).limit(k).select(vec_col).collect()
    books = _subvectors([r[vec_col] for r in init], m)
    ids = [list(range(len(b))) for b in books]
    # a single-file corpus is one input partition: spread it, or every
    # iteration assigns on one task
    corpus = spread(df, id_col)
    for _ in range(iters):
        sums = label_sums(corpus, vec_col, codebooks=books, ids=ids, sliced=True)
        ids = [sorted(sub) for sub in sums]
        # one IEEE double division per component
        books = [
            [(sub[i][1] / sub[i][0]).tolist() for i in sub_ids]
            for sub, sub_ids in zip(sums, ids)
        ]
    return books


def _adc_lut(q: Sequence[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """The ADC lookup table ``lut[s][c] = ||q_s − codebooks[s][c]||²``,
    computed driver-side and folded in subvector index order (j asc),
    so an independent engine lands on the same doubles."""
    d = len(codebooks[0][0])
    return [
        [
            sum((q[s * d + j] - c[j]) * (q[s * d + j] - c[j]) for j in range(d))
            for c in book
        ]
        for s, book in enumerate(codebooks)
    ]


def _adc_rerank(
    candidates: DataFrame,
    enc_col: str,
    codebooks: list[list[list[float]]],
    lut_sql: str,
    q: list[float],
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    round_to: int | None,
) -> DataFrame:
    """The PQ search tail :func:`ann_pq` and :func:`ann_ivfpq` share.

    Each candidate's ``enc_col`` is encoded in one kernel pass
    (:func:`~flink_kmeans_clustering_spark.functions.vector.assign_nearest`
    with the m codebooks over m equal slices): ``codes[s]`` is the
    position of the nearest codeword of subspace s, ties to the lowest
    position, and a slice with a missing or null element takes
    position 0.  The codebooks may be ragged.  Then each candidate is
    ADC-scored as ``Σ_s lut[s][codes[s]]`` (an ordered fold of m array
    lookups), the ``shortlist`` best are reranked by exact squared L2
    to ``q``, and the top ``k`` kept.  Both cuts are
    TakeOrderedAndProject with ties to the lowest id; a NULL d2 (a
    null, short, long or null-element vector) ranks after every real
    neighbour, as in :func:`topk_cosine`.  ``lut_sql``
    (``array<array<double>>``, m rows) is SQL text read outside every
    lambda.  Output: (id, d2)."""
    codes = fresh_name("_codes", candidates.columns)
    coded = assign_nearest(candidates, enc_col, codebooks, out_col=codes, sliced=True)
    qid, qvec = quote_ident(id_col), quote_ident(vec_col)
    score = (
        f"aggregate(zip_with({quote_ident(codes)}, {lut_sql}, (code, t) -> get(t, code)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    short = (
        coded.selectExpr(qid, qvec, f"{score} AS _score")
        .orderBy("_score", id_col)
        .limit(shortlist)
    )
    vec = f"transform({qvec}, x -> CAST(x AS DOUBLE))"
    d2 = squared_l2_sql(vec, array_lit_sql(q))
    out = short.selectExpr(qid, f"{d2} AS d2").orderBy(F.asc_nulls_last("d2"), id_col).limit(k)
    if round_to is not None:
        out = out.selectExpr(qid, f"round(d2, {round_to}) AS d2")
    return out


def ann_pq(
    df: DataFrame,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011): encode the
    corpus as m codes per vector (one numpy-kernel pass,
    :func:`_adc_rerank`), score candidates with an asymmetric distance
    computation (ADC) lookup table, exact-L2 rerank the shortlist.

    Scale shape: the m×k LUT (distances from the query's subvectors to
    every codeword) is computed DRIVER-side and enters the plan as one
    literal — scoring a vector is m array lookups + an ordered fold,
    no join, no shuffle; both top-selections are
    TakeOrderedAndProject.  At 100 TB the encoded corpus is m bytes
    per vector instead of 4·dim — the memory-bound regime PQ exists
    for — and codes are computed once at ingest, not per query.

    Output: (vec_id, d2) — exact squared L2 of the top-k, ties to the
    lowest id at both the shortlist and final cut.
    """
    q = [float(v) for v in query_vec]
    # spread before the encoding: a single-file corpus otherwise encodes
    # and scores on ONE task.  Pass-through at 100 TB where the scan has
    # splits; the plan pin allows the one under-parallel rebalance.
    return _adc_rerank(
        spread(df, id_col).select(quote_ident(id_col), quote_ident(vec_col)),
        vec_col,
        codebooks,
        array_lit_sql(_adc_lut(q, codebooks)),
        q, k, shortlist, id_col, vec_col, round_to,
    )


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Batch IVF ANN: per-query probed-cell top-k, fully distributed —
    the batch twin of :func:`ann_search` (which ranks cells driver-side
    for ONE query literal).  The cell means come first, from one job
    over the corpus: the numpy kernel's per-partition sums
    (:func:`cell_centroids`, no exchange), added on the driver.  The
    per-query cell ranking, the probe join and the per-query top-k are
    then one lazy DataFrame plan; collecting it reads ``corpus`` a
    second time (a lazy corpus, such as an ``assign_points_nd`` output,
    recomputes its cells then).

    Execution shape at 100 TB: centroids are |cells| rows, the ranked
    (query, cell) probe list is |queries|·n_probe rows — both broadcast;
    the corpus is scanned ONCE and each row joins only the queries
    probing its cell (hash join on the cell key against the broadcast
    side, no corpus shuffle); the per-query ranking is a
    ``row_number() ≤ k`` window that compiles to ``WindowGroupLimit``
    (partition-local pre-filtering), so the only exchange carries at
    most k·|queries|·partitions candidate rows.  With the corpus
    written partitioned-by-cell, the probe join's cell set can instead
    prune partitions exactly like :func:`ann_search`.

    Determinism: cosine rounded BEFORE ranking, neighbor-id ascending
    tie-break; cell ranking ties break on cell id ascending, and a cell
    with no cosine (a zero-norm centroid) ranks last, the rule
    :func:`ann_search` probes by — all replayable in any SQL engine
    (q_ann_recall's DuckDB oracle does).  Every norm is projected once
    per row below its join, so a (query, cell) or (query, corpus row)
    pair folds one dot.

    Output: (query_id, neighbor_id, cosine, rnk), rnk in 1..k.
    """
    cents = (
        cell_centroids(corpus, cell_col, vec_col)
        .select("cell", "centroid")
        .withColumn("_cn", F.expr(norm_sql("centroid")))
    )
    q = _query_batch(queries, query_id_col, query_vec_col)
    csim = F.expr(cosine_sql("centroid", "_qv", "_cn", "_qn"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.col("cell"))
    probes = (
        q.join(F.broadcast(cents))
        .select("query_id", "_qv", "_qn", "cell", csim.alias("_csim"))
        .withColumn("_crnk", F.row_number().over(wq))
        .filter(F.col("_crnk") <= n_probe)
        .select("query_id", "_qv", "_qn", "cell")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("_cell"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_vn", F.expr(norm_sql("_v")))
    return _top_k_per_query(
        c.join(F.broadcast(probes), F.col("_cell") == F.col("cell")), k, round_to
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k evaluation of the IVF index against exact search, as
    ONE distributed plan — the index-quality gate a 100 TB retrieval
    pipeline runs before trusting an index build (VERDICT r05: an index
    can be deterministic and low-recall; this measures it in-engine).

    Exact truth comes from :func:`knn_join` (broadcast query batch,
    single corpus scan, WindowGroupLimit), the approximate side from
    :func:`ivf_knn_join`; recall@k per query is the overlap of the two
    id sets over k.  Queries whose probed cells are empty still emit a
    row (recall 0) — the query batch is the output spine.

    Output: (query_id, n_hits, recall), recall = n_hits / k.
    """
    exact = knn_join(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select("query_id", "neighbor_id")
    approx = ivf_knn_join(
        corpus, queries, k=k, n_probe=n_probe, cell_col=cell_col,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    spine = queries.select(F.col(query_id_col).alias("query_id")).distinct()
    return (
        spine.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dims_levels: Sequence[int] = (8, 16, 32, 64),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-representation evaluation: exact top-k recall when
    embeddings are TRUNCATED to their first ``d`` dimensions, for each
    ``d`` in ``dims_levels`` — the measurement behind MRL-style
    (Kusupati et al., NeurIPS'22) tiered retrieval, where a 100 TB
    index stores d/8 prefixes for the coarse pass and full vectors only
    for re-ranking.  This answers "how many prefix dims does the coarse
    pass need" with data, not folklore.

    Execution is ONE corpus scan for ALL levels: the query batch is
    broadcast, every (corpus row × query) computes all level cosines in
    a single projection (prefix dot/norms via sliced folds, JVM-side),
    then one posexplode to (level, cosine) long form and ONE shuffle on
    (query_id, dims) for the per-level ranking — not a rescan per
    level.  Ranking follows the knn_join discipline: cosine rounded to
    6 before ranking, ties by neighbor id, NULL cosines (zero-norm
    prefixes) filtered, window row_number ≤ k compiles to
    WindowGroupLimit so each partition pre-trims before the exchange.

    Truth = the ranking at the LARGEST level (the full vector).
    Output: (dims, query_id, n_hits, recall), recall = overlap@k / k —
    the max-dims rows are the 1.0 sanity floor.
    """
    levels = sorted(set(int(d) for d in dims_levels))

    def _prefix_norms(vec: str) -> Column:
        # per-ROW prefix norms, one array per vector: computed once per
        # corpus/query row instead of once per (row × query) pair —
        # HOF folds are interpreted per element, so moving them off
        # the pair product is the dominant cost lever here
        return F.array(*[F.expr(norm_sql(f"slice({vec}, 1, {d})")) for d in levels])

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _prefix_norms("_qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_vn", _prefix_norms("_v"))

    # Per pair, the only remaining folds are over ONE shared
    # elementwise-product array.  The product is let-bound via a
    # single-element transform() so Catalyst's projection collapse
    # cannot re-inline the zip_with into every level's aggregate
    # (the q_multimodal_phash lesson — measured re-inlining costs).
    def _pair_cos_array() -> Column:
        prod = F.zip_with("_v", "_qv", lambda x, y: x * y)

        def _per_level(p: Column) -> Column:
            def _cos(i: int, d: int) -> Column:
                den = F.element_at("_vn", i + 1) * F.element_at(
                    "_qn", i + 1
                )
                num = F.aggregate(
                    F.slice(p, 1, d), F.lit(0.0), lambda a, x: a + x
                )
                return F.round(F.when(den > 0, num / den), 6)

            return F.array(*[_cos(i, d) for i, d in enumerate(levels)])

        return F.element_at(F.transform(F.array(prod), _per_level), 1)

    long = (
        c.join(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.posexplode(_pair_cos_array()).alias("_lvl", "cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("query_id", "_lvl").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    lvl_dims = F.element_at(
        F.array(*[F.lit(d) for d in levels]), F.col("_lvl") + 1
    )
    ranked = (
        long.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "_lvl", lvl_dims.alias("dims"), "neighbor_id")
    )
    # Truth = the max-level rows of `ranked` itself.  Deriving the
    # overlap via a per-query window collect_set (k-bounded set)
    # instead of a ranked⋈ranked self-join keeps this ONE corpus pass
    # — a self-join would re-run the scan + ranking for each side.
    wq = Window.partitionBy("query_id")
    truth_set = F.collect_set(
        F.when(F.col("dims") == levels[-1], F.col("neighbor_id"))
    ).over(wq)
    hits = (
        ranked.withColumn("_truth", truth_set)
        .groupBy("dims", "query_id")
        .agg(
            F.sum(
                F.array_contains(F.col("_truth"), F.col("neighbor_id")).cast(
                    "long"
                )
            ).alias("n_hits")
        )
    )
    spine = (
        q.select("query_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                corpus.sparkSession.createDataFrame(
                    [(d,) for d in levels], "dims int"
                )
            )
        )
    )
    return spine.join(hits, ["dims", "query_id"], "left").select(
        F.col("dims").cast("int").alias("dims"),
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
        ).alias("recall"),
    )


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    skip: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Hard-negative mining — the contrastive-training companion of
    :func:`knn_join`: for every query (anchor), the rank band
    ``(skip, skip+k]`` of its cosine neighbors.  The top ``skip``
    neighbors are presumed positives/duplicates and excluded (as is
    the anchor itself); what remains is the "close but not a match"
    band that makes the best negatives for training retrievers and
    embedding models (in-batch-random negatives are too easy).

    Execution is knn_join's plan verbatim with a deeper group limit:
    broadcast query batch, ONE corpus scan, per-partition
    ``WindowGroupLimit`` heap of ``skip + k`` rows per query before the
    single bounded exchange — then the narrow ``rnk > skip`` cut.
    Determinism: cosine rounded before ranking, ties break to lowest
    neighbor id.

    Output: (query_id, neighbor_id, cosine, rnk), rnk in
    skip+1 .. skip+k.
    """
    deep = knn_join(
        corpus,
        queries,
        k=skip + k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        round_to=round_to,
    )
    return deep.filter(
        (F.col("rnk") > skip) & (F.col("neighbor_id") != F.col("query_id"))
    )


def filtered_knn_join(
    corpus: DataFrame,
    metadata: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Metadata-filtered vector search — the production retrieval shape
    ("nearest ENGLISH docs over 500 chars"): a metadata predicate
    restricts the corpus BEFORE any similarity work, then the search is
    :func:`knn_join`'s plan over the survivors.

    Pre-filtering beats post-filtering top-k at every scale: filtering
    after rank can return < k rows (or force k' ≫ k oversearch), and
    the predicate pushes into the metadata scan (PushedFilters) so the
    id-join only moves matching ids.  The join is declared plainly and
    left to the planner: at toy scale AQE broadcasts the filtered id
    set; at corpus scale it degrades to a key-partitioned join — both
    correct, no hint needed.

    Output: knn_join's (query_id, neighbor_id, cosine, rnk), ranks
    computed WITHIN the filtered corpus.
    """
    ids = metadata.filter(predicate).select(
        F.col(meta_id_col).alias(id_col)
    )
    survivors = corpus.join(ids, id_col)
    return knn_join(
        survivors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        round_to=round_to,
    )


def ann_mrr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Mean-reciprocal-rank evaluation of the IVF index — the
    position-sensitive companion of :func:`ann_recall` (recall@k says
    the truth is SOMEWHERE in the top k; MRR says WHERE — rank 1 vs
    rank 10 matter very differently to a retrieval consumer).

    Self-matches are excluded on BOTH sides (the standard eval: a query
    trivially retrieving itself says nothing).  Exact truth is the
    top-1 non-self neighbor from :func:`knn_join` at k=2 (removing the
    ≤1 self row from a top-2 list always leaves the true non-self
    top-1); the approximate side is :func:`ivf_knn_join` at k+1
    re-ranked after self-exclusion — top-k of (top-(k+1) minus self) ==
    top-k of (all minus self).  Same broadcast/one-scan physics as the
    underlying joins; the re-rank window touches ≤ k+1 rows per query.

    Output: (query_id, truth_rank, rr) — truth_rank 0 and rr 0.0 when
    the exact top-1 is outside the approximate top-k.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    truth = (
        knn_join(
            corpus, queries, k=2, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", "neighbor_id")
    )
    approx = (
        ivf_knn_join(
            corpus, queries, k=k + 1, n_probe=n_probe, cell_col=cell_col,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("arnk", F.row_number().over(w))
        .filter(F.col("arnk") <= k)
        .select("query_id", "neighbor_id", "arnk")
    )
    spine = queries.select(F.col(query_id_col).alias("query_id")).distinct()
    hit = truth.join(approx, ["query_id", "neighbor_id"], "left").select(
        "query_id", "arnk"
    )
    return spine.join(hit, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("arnk"), F.lit(0)).cast("long").alias("truth_rank"),
        F.round(
            F.when(F.col("arnk").isNotNull(), F.lit(1.0) / F.col("arnk"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("rr"),
    )


def quantization_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Int8 quantization-error report per group — the monitoring twin
    of :func:`ann_quantized`: before trusting a 4×-smaller index, a
    pipeline measures what the quantizer destroys.  Per vector, the
    symmetric int8 codec (scale 127/max|x|, round half-away, dequantize
    q/scale) is applied and the relative reconstruction error
    ``Σ(x−x̂)²/Σx²`` computed — all inside one scan with index-ordered
    ``aggregate`` folds, so a SQL oracle replays the float sequence
    exactly.  Per-group roll-up sums the 6-decimal-rounded per-vector
    errors in DECIMAL (engine- and partitioning-exact).

    Output: (label, n_vecs, avg_rel_err, max_rel_err).
    """
    v = f"CAST({vec_col} AS array<double>)"
    scale = f"(127.0D / array_max(transform({v}, x -> abs(x))))"
    xhat = f"transform({v}, x -> round(x * {scale}) / {scale})"
    num = squared_l2_sql(v, xhat)
    den = dot_sql(v, v)
    per_vec = df.filter(
        F.expr(f"array_max(transform({v}, x -> abs(x)))") > 0
    ).select(
        F.col(group_col),
        F.round(F.expr(num) / F.expr(den), 6).alias("_rel"),
    )
    return (
        per_vec.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("_rel").cast("decimal(20,6)"))
                .cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_rel_err"),
            F.max("_rel").alias("max_rel_err"),
        )
    )


def ivfpq_residual_codebooks(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> list[list[list[float]]]:
    """Residual PQ codebooks WITHOUT a training job: codeword ``c`` of
    subspace ``s`` is the s-th subvector of the RESIDUAL (vector minus
    its own cell's centroid) of the (c+1)-th corpus vector by id.

    The residual twin of :func:`pq_codebooks_first` — the same
    deterministic, any-engine-replayable contract (production would
    train per-subspace k-means over residuals with
    :func:`pq_codebooks_trained`; the encode/ADC plumbing in
    :func:`ann_ivfpq` is identical either way).
    """
    cmap = {int(cell): [float(x) for x in cent] for cell, cent in centroids}
    rows = (
        df.orderBy(id_col).limit(k).select(id_col, cell_col, vec_col).collect()
    )
    res = [
        [float(v) - c for v, c in zip(r[vec_col], cmap[int(r[cell_col])])]
        for r in rows
    ]
    return _subvectors(res, m)


def ann_ivfpq(
    df: DataFrame,
    query_vec: Sequence[float],
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 50,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """IVFADC — the canonical billion-scale ANN layout (Jégou et al.,
    TPAMI 2011 §IV; FAISS ``IVFxx,PQyy``): coarse cells prune the scan,
    residual product-quantization codes score the survivors, exact L2
    reranks the shortlist.

    Scale shape, stage by stage:

    1. **Probe** — cell centroids are a k-row driver-side list; the
       query ranks them (cosine, ties → lowest cell) and keeps
       ``n_probe``; a probed cell whose centroid is NULL or holds a
       NULL element has no residual and adds no candidates.  The
       ``isin`` filter pushes into the scan; on a cell-partitioned
       table that is partition pruning — the 100 TB corpus shrinks to
       the probed cells' files.
    2. **ADC over residuals** — within probed cells each vector's
       residual (v − centroid(cell), a SQL ``zip_with``) is encoded as
       m codes by the kernel pass of :func:`_adc_rerank`, after the
       probe filter; the query side is a PER-CELL lookup table
       (residual q − centroid(cell) against every codeword) computed
       driver-side and shipped as ONE map literal keyed by cell —
       scoring is m array lookups + an ordered fold, no join, no
       shuffle.  Residual coding is what separates IVFADC from
       plain IVF+PQ: quantizing v − centroid removes the coarse
       cell's offset so the same codebook budget spends its bits on
       the fine structure.
    3. **Rerank** — exact squared L2 against the ORIGINAL query for the
       shortlist; both cuts are TakeOrderedAndProject (per-partition
       heaps, no global sort).

    Output: (vec_id, d2) — ties to the lowest id at both cuts.
    """
    q = [float(v) for v in query_vec]
    probed = [
        (int(c), [float(x) for x in v])
        for c, v in _probe_cells(centroids, q, n_probe)
        if v is not None and None not in v
    ]
    if not probed:
        return df.limit(0).selectExpr(quote_ident(id_col), "CAST(NULL AS DOUBLE) AS d2")
    probed_cells = [c for c, _ in probed]

    # Per-cell ADC lookup tables from the query's per-cell residual
    # (the same fold contract as ann_pq's single LUT); both maps are
    # keyed by cell and read outside every lambda.
    luts = [
        _adc_lut([qi - ci for qi, ci in zip(q, cent)], codebooks)
        for _, cent in probed
    ]
    cells = array_lit_sql(probed_cells, kind="int")
    cell = f"CAST({quote_ident(cell_col)} AS INT)"

    def by_cell(values) -> str:
        return f"element_at(map_from_arrays({cells}, {array_lit_sql(values)}), {cell})"

    vec = f"transform({quote_ident(vec_col)}, x -> CAST(x AS DOUBLE))"
    residual = f"zip_with({vec}, {by_cell([c for _, c in probed])}, (a, b) -> a - b)"
    res = fresh_name("_residual", [id_col, vec_col, cell_col])
    candidates = df.filter(F.col(cell_col).cast("int").isin(probed_cells)).selectExpr(
        quote_ident(id_col), quote_ident(vec_col), quote_ident(cell_col),
        f"{residual} AS {quote_ident(res)}",
    )
    return _adc_rerank(
        candidates, res, codebooks, by_cell(luts),
        q, k, shortlist, id_col, vec_col, round_to,
    )
