"""Distributed dense linear algebra over embedding columns.

The sufficient-statistics pass of every large-scale embedding job
(PCA/whitening/covariance shift detection) is one matrix product:
``Xᵀ X`` over the corpus.  The distributed shape is classic: each
partition computes its own small ``(dim+1)²`` partial product with a
local GEMM (Arrow batch → one ``numpy`` matmul — vectorized, not
per-row), and only those ``O(dim²)``-sized partials are shuffled and
summed.  At 100 TB the exchange carries ``partitions × dim²`` doubles
regardless of row count — the scan is the whole cost.

The intercept trick makes it single-pass: ``X`` is augmented with a
constant-1 column, so ``XᵀX`` simultaneously yields the second moments
(``G[i][j]``), the per-dimension sums (``G[i][dim]``) and the row count
(``G[dim][dim]``) — count, mean and covariance all come from ONE job.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GRAM_SCHEMA = "i int, j int, g double"


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Upper-triangle of the intercept-augmented Gram matrix ``XᵀX``.

    Rows whose vector length differs from ``dim`` are EXCLUDED up front
    (never silently truncated or zero-padded — the ADVICE.md dim-
    mismatch rule).  The index ``dim`` is the constant-1 column:
    ``G[i][dim] = Σ xᵢ`` and ``G[dim][dim] = n``.

    Output: (i, j, g) for ``0 ≤ i ≤ j ≤ last``; ``O(dim²)`` rows total.
    """
    import numpy as np

    width = dim + 1
    iu, ju = np.triu_indices(width)
    iu_l, ju_l = iu.astype("int32"), ju.astype("int32")

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((width, width), dtype="float64")
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray(list(pdf["_v"]), dtype="float64")
            v = np.hstack([v, np.ones((v.shape[0], 1))])
            acc += v.T @ v
            seen = True
        if seen:
            yield pd.DataFrame({"i": iu_l, "j": ju_l, "g": acc[iu, ju]})

    vecs = (
        df.select(F.col(vec_col).cast("array<double>").alias("_v"))
        .filter(F.size("_v") == dim)
    )
    partials = vecs.mapInPandas(partial_gram, schema=_GRAM_SCHEMA)
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def _matvec_fold(a: list[list[float]], v: list[float]) -> list[float]:
    """Row-wise A·v with a LEFT-TO-RIGHT fold over j — the exact op
    order of DuckDB's ``list_sum(list_transform(...))`` (verified
    bit-equal in tests), so an oracle replaying the same doubles lands
    on the same bits."""
    out = []
    for row in a:
        s = 0.0
        for j, x in enumerate(v):
            s += row[j] * x
        out.append(s)
    return out


def _power_iterate(
    a: list[list[float]], iters: int
) -> list[float]:
    """Fixed-iteration power iteration from the constant 1/8 vector
    (exact in binary for dim 64), sign-canonicalized (first
    largest-|component| entry positive).  No numpy anywhere: every fold
    is index-ordered pure Python so the arithmetic replays bit-exactly
    in any engine with sequential-fold list ops."""
    import math

    dim = len(a)
    v = [0.125] * dim
    for _ in range(iters):
        w = _matvec_fold(a, v)
        s = 0.0
        for x in w:
            s += x * x
        nrm = math.sqrt(s)
        if nrm == 0.0:
            # Degenerate input (constant embeddings → deflated matrix is
            # exactly zero): A·v stays zero forever, so the current unit
            # vector is as good a fixpoint as any.  Raising a typed error
            # here would crash the driver mid-plan; keeping v matches the
            # oracle's coalesce-to-previous behavior on the same input.
            break
        v = [x / nrm for x in w]
    jmax = 0
    best = -1.0
    for i, x in enumerate(v):
        ax = abs(x)
        if ax > best:
            best, jmax = ax, i
    if v[jmax] < 0:
        v = [-x for x in v]
    return v


def pca_project_checked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    iters: int = 300,
    round_to: int = 6,
) -> DataFrame:
    """Top-2 PCA projection with a FULLY REPLAYABLE eigensolve.

    A closed-form ``numpy.linalg.eigh`` solve is correct, but a LAPACK
    black box no SQL engine can replay, so its rows could not be
    oracle-checked.  This projection trades the closed-form solve for
    determinism the way q_kmeans_scalable did for k-means‖:

    1. sufficient statistics: the same one-pass distributed GEMM
       (:func:`covariance_matrix`), but consumed at ROUND-6 — the
       rounded covariance is the cross-engine common ground the green
       q_embed_cov oracle already proves bit-equal;
    2. eigensolve: ``iters`` rounds of power iteration from the exact
       1/8 vector, second component via explicit deflation
       (A − λ₁v₁v₁ᵀ), every fold index-ordered pure Python
       (:func:`_power_iterate`) — an engine replaying the same rounded
       doubles through the same fold order lands on identical bits;
    3. projection: loadings re-enter the plan as literals in one
       codegen map, ``pcₖ = Σᵢ (xᵢ−μᵢ)·vᵢₖ`` folded left-to-right,
       rounded and −0.0-canonicalized.

    On a near-isotropic spectrum the iterate converges slowly — that
    affects how close v₁ is to LAPACK's PC1 (tests pin subspace
    agreement on a separated spectrum), never cross-engine equality:
    both engines compute the identical finite float sequence.

    Output: (id, pc1, pc2), one row per in-width input row.
    """
    # the ONLY statistics pass over the corpus
    g = gram_matrix(df, vec_col=vec_col, dim=dim).localCheckpoint()
    cov_rows = _cov_from_gram(g, dim, round_to).collect()
    a = [[0.0] * dim for _ in range(dim)]
    for r in cov_rows:
        a[r["i"]][r["j"]] = r["cov"]
        a[r["j"]][r["i"]] = r["cov"]

    v1 = _power_iterate(a, iters)
    w1 = _matvec_fold(a, v1)
    lam = 0.0
    for i in range(dim):
        lam += v1[i] * w1[i]
    a2 = [
        [a[i][j] - lam * v1[i] * v1[j] for j in range(dim)]
        for i in range(dim)
    ]
    v2 = _power_iterate(a2, iters)

    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).filter(F.size("_v") == dim)
    # μ off the SAME gram (intercept column: G[i][dim] = Σxᵢ,
    # G[dim][dim] = n) — no second corpus pass; Spark-side round so the
    # half-up semantics match the oracle's ROUND exactly
    n_row = g.filter((F.col("i") == dim) & (F.col("j") == dim)).select(
        F.col("g").alias("_n")
    )
    mu_rows = (
        g.filter((F.col("j") == dim) & (F.col("i") < dim))
        .join(F.broadcast(n_row))
        .select(
            "i",
            (F.round(F.col("g") / F.col("_n"), round_to) + F.lit(0.0)).alias(
                "mu"
            ),
        )
        .collect()
    )
    mu = [0.0] * dim
    for r in mu_rows:
        mu[r["i"]] = float(r["mu"])

    exprs = [id_col]
    for name, comp in (("pc1", v1), ("pc2", v2)):
        terms = " + ".join(
            f"(element_at(_v, {i + 1}) - {mu[i]!r}) * {comp[i]!r}"
            for i in range(dim)
        )
        exprs.append(f"round(({terms}), {round_to}) + 0.0d AS {name}")
    return vecs.selectExpr(*exprs)


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int | None = 6,
) -> DataFrame:
    """Upper-triangle sample covariance beside the raw second moments.

    One corpus pass (see :func:`gram_matrix`); the count and the
    per-dimension sums are read back out of the augmented Gram result
    itself, which is ``O(dim²)`` rows — it is localCheckpointed so the
    three references (moments, sums, count) don't re-run the GEMM, and
    the sums/count sides are broadcast into the final join.

    cov(i,j) = (G[i][j] − Sᵢ·Sⱼ/n) / (n−1).

    Output: (i, j, gram, cov) for ``0 ≤ i ≤ j < dim``.
    """
    g = gram_matrix(df, vec_col=vec_col, dim=dim)
    g = g.localCheckpoint()  # O(dim²) rows; 3 consumers below
    return _cov_from_gram(g, dim, round_to)


def _cov_from_gram(
    g: DataFrame, dim: int, round_to: int | None
) -> DataFrame:
    """The cov projection of :func:`covariance_matrix` split out so a
    caller holding an already-materialized augmented Gram (e.g.
    :func:`pca_project_checked`, which also derives μ from it) pays
    the corpus pass once."""
    n_row = g.filter((F.col("i") == dim) & (F.col("j") == dim)).select(
        F.col("g").alias("_n")
    )
    sums = g.filter((F.col("j") == dim) & (F.col("i") < dim)).select(
        F.col("i").alias("_si"), F.col("g").alias("_s")
    )
    moments = g.filter(F.col("j") < dim)
    out = (
        moments.join(F.broadcast(sums), moments["i"] == sums["_si"])
        .drop("_si")
        .withColumnRenamed("_s", "_s_i")
        .join(F.broadcast(sums), moments["j"] == sums["_si"])
        .drop("_si")
        .withColumnRenamed("_s", "_s_j")
        .join(F.broadcast(n_row))
    )
    cov = (F.col("g") - F.col("_s_i") * F.col("_s_j") / F.col("_n")) / (
        F.col("_n") - F.lit(1.0)
    )
    gram = F.col("g")
    if round_to is not None:
        # + 0.0 canonicalizes IEEE negative zero (−0.0 + 0.0 = +0.0):
        # a cov that rounds to zero must hash identically in any engine
        cov = F.round(cov, round_to) + F.lit(0.0)
        gram = F.round(gram, round_to) + F.lit(0.0)
    return out.select("i", "j", gram.alias("gram"), cov.alias("cov"))


def embedding_drift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int | None = 6,
) -> DataFrame:
    """Embedding-distribution drift between two deterministic halves of
    the corpus (md5 split on ``id_col``) — the monitoring check a
    production embedding pipeline runs between ingestion batches: if
    the two halves' MEAN vectors diverge, the upstream encoder or the
    content mix moved.

    One narrow pass: per-dim conditional SUMs for both halves in a
    single aggregate (2·dim+2 columns, one exchange carrying ONE row),
    then cosine / L2 between the mean vectors as fixed-order column
    arithmetic — index-ordered left-assoc chains, so a SQL engine
    folding ordered lists lands on the same doubles.

    Output: one row (n_a, n_b, mean_cosine, mean_l2).
    """
    # Plan construction is selectExpr-authored (VERDICT r10 item 3 —
    # the Lloyd-cut pattern, kmeans.py:810751f): the previous
    # Column-by-Column form cost ~500 py4j round trips per call
    # (2·dim+2 aggregate Columns plus four 64-term arithmetic chains)
    # — ~2.3 s warm on a ONE-row aggregate.  The strings below parse
    # JVM-side into the SAME expression trees term-for-term
    # (conditional SUMs, left-assoc + chains, identical parenthesis
    # structure), so values are bit-identical — oracle hashes
    # unchanged at sf0.01 and sf0.1.
    qid = "`" + id_col.replace("`", "``") + "`"
    qvec = "`" + vec_col.replace("`", "``") + "`"
    base = df.selectExpr(
        "CAST(conv(substring(md5(CAST({} AS STRING)), 1, 2), 16, 10)"
        " AS INT) % 2 AS _h".format(qid),
        f"transform({qvec}, x -> CAST(x AS DOUBLE)) AS _v",
    ).filter(F.size("_v") == dim)
    agg_exprs = [
        "sum(CASE WHEN _h = 0 THEN 1 ELSE 0 END) AS _na",
        "sum(CASE WHEN _h = 1 THEN 1 ELSE 0 END) AS _nb",
    ]
    for j in range(dim):
        agg_exprs.append(
            f"sum(CASE WHEN _h = 0 THEN element_at(_v, {j + 1}) END) AS _sa{j}"
        )
        agg_exprs.append(
            f"sum(CASE WHEN _h = 1 THEN element_at(_v, {j + 1}) END) AS _sb{j}"
        )
    one = base.selectExpr(*agg_exprs)

    ma = [f"(_sa{j} / _na)" for j in range(dim)]
    mb = [f"(_sb{j} / _nb)" for j in range(dim)]
    # "t0 + t1 + ..." parses left-assoc — the same ((t0+t1)+t2) chain
    # the Column form folded, so summation order (hence doubles) match.
    dot = " + ".join(f"({a} * {b})" for a, b in zip(ma, mb))
    na2 = " + ".join(f"({a} * {a})" for a in ma)
    nb2 = " + ".join(f"({b} * {b})" for b in mb)
    d2 = " + ".join(f"(({a} - {b}) * ({a} - {b}))" for a, b in zip(ma, mb))
    cos = f"(({dot}) / (SQRT({na2}) * SQRT({nb2})))"
    l2 = f"SQRT({d2})"
    if round_to is not None:
        cos = f"(round({cos}, {round_to}) + 0.0D)"
        l2 = f"(round({l2}, {round_to}) + 0.0D)"
    return one.selectExpr(
        "CAST(_na AS BIGINT) AS n_a",
        "CAST(_nb AS BIGINT) AS n_b",
        f"{cos} AS mean_cosine",
        f"{l2} AS mean_l2",
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 20,
    eps: float = 1e-12,
    round_to: int | None = 6,
) -> DataFrame:
    """Embedding OOD/outlier detector: per-dimension z-score energy
    (diagonal-covariance Mahalanobis²) against the corpus's own
    moments, top-k most anomalous vectors — the encoder-failure /
    corrupt-input screen an embedding pipeline runs per batch.

    One narrow aggregate computes n, Σxⱼ, Σxⱼ² for every dimension
    (2·dim+1 columns, ONE row over the exchange — the same
    sufficient-statistics shape as :func:`embedding_drift`); the
    moment row broadcasts back and each vector's score
    Σⱼ (xⱼ−μⱼ)²/(σⱼ²+ε) is an index-ordered fold in codegen.  The
    final cut is (score DESC, id) via TakeOrderedAndProject — score is
    rounded BEFORE ranking so engines agreeing to 6 dp rank
    identically.

    Output: (vec_id, score), k rows.
    """
    # selectExpr-authored like embedding_drift above (VERDICT r10
    # item 3): same expression trees term-for-term — per-dim Σx, Σx²
    # aggregates, then the left-assoc z-energy chain
    # Σⱼ (xⱼ−μⱼ)²/(σⱼ²+ε) with identical parenthesis structure, so
    # scores (and therefore the rounded ranking) are bit-identical to
    # the previous Column-built form.
    qid = "`" + id_col.replace("`", "``") + "`"
    qvec = "`" + vec_col.replace("`", "``") + "`"
    base = df.selectExpr(
        qid, f"transform({qvec}, x -> CAST(x AS DOUBLE)) AS _v"
    ).filter(F.size("_v") == dim)
    agg_exprs = ["CAST(count(1) AS DOUBLE) AS _n"]
    for j in range(dim):
        el = f"element_at(_v, {j + 1})"
        agg_exprs.append(f"sum({el}) AS _s{j}")
        agg_exprs.append(f"sum({el} * {el}) AS _q{j}")
    stats = base.selectExpr(*agg_exprs)

    scored = base.crossJoin(F.broadcast(stats))
    eps_lit = repr(float(eps)) + "D"
    terms = []
    for j in range(dim):
        mu = f"(_s{j} / _n)"
        var = f"((_q{j} / _n) - ({mu} * {mu}))"
        x = f"element_at(_v, {j + 1})"
        terms.append(f"(({x} - {mu}) * ({x} - {mu}) / ({var} + {eps_lit}))")
    score = " + ".join(terms)
    if round_to is not None:
        score = f"round({score}, {round_to})"
    return (
        scored.selectExpr(qid, f"{score} AS score")
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def embedding_health(
    df: DataFrame,
    expected_dim: int,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-corpus health gate — the QA pass a pipeline runs
    BEFORE spending a cluster on index builds or pair generation:
    count the pathologies that silently poison similarity search
    (NULL vectors, wrong widths, zero norms) and profile the norm
    distribution (un-normalized corpora break cosine shortcuts).

    One single-pass conditional aggregate over the scan — zero
    joins, one 1-row exchange.  Each row's norm folds once,
    index-ordered (``functions.vector.norm_sql``), so min/max are exact
    cross-engine; the mean rounds after the order-dependent sum (norms
    are O(1), so 6 decimals absorbs summation-order ulps).

    Output: one row — (n_vecs, n_null_vec, n_wrong_dim, n_zero_norm,
    min_norm, max_norm, mean_norm).
    """
    from flink_kmeans_clustering_spark.functions.vector import norm_sql

    v, nrm = F.col("_v"), F.col("_n")
    ok = v.isNotNull() & (F.size(v) == expected_dim)
    rows = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    return rows.withColumn("_n", F.when(ok, F.expr(norm_sql("_v")))).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(v.isNull().cast("long")).alias("n_null_vec"),
        F.sum((v.isNotNull() & (F.size(v) != expected_dim)).cast("long")).alias(
            "n_wrong_dim"
        ),
        F.sum((ok & (nrm == 0.0)).cast("long")).alias("n_zero_norm"),
        F.min(nrm).alias("min_norm"),
        F.max(nrm).alias("max_norm"),
        F.round(F.avg(nrm), round_to).alias("mean_norm"),
    )


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    panel_max_id: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening) of an
    embedding column: z_ij = (x_ij − μ_j) / σ_j with POPULATION moments
    — the preprocessing step vector indexes and drift monitors want
    before comparing corpora (a dimension with 100× the variance
    otherwise dominates every distance).

    Moments are DECIMAL-exact per dimension (Σx, Σx² accumulate in
    decimal; the x² product is one deterministic double multiply before
    the cast — the same discipline as the events z-score), so μ_j and
    σ_j are identical across engines and partitionings.  One
    posexplode + per-dimension aggregate (64 rows broadcast back);
    the transform itself is a narrow projection at scan speed.

    Output: the standardized panel (``id < panel_max_id``) flattened to
    (vec_id, pos, z) — bounded rows, full-precision oracle surface; the
    full standardized corpus is the same projection without the panel
    filter.
    """
    flat = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    x = F.col("x")
    stats = flat.groupBy("pos").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast("decimal(25,8)")).alias("_sx"),
        F.sum((x * x).cast("decimal(30,10)")).alias("_sxx"),
    )
    mean = (F.col("_sx").cast("double") / F.col("_n")).alias("_mean")
    var = (
        F.col("_sxx").cast("double") / F.col("_n")
        - (F.col("_sx").cast("double") / F.col("_n"))
        * (F.col("_sx").cast("double") / F.col("_n"))
    ).alias("_var")
    panel = flat.filter(F.col(id_col) < panel_max_id)
    z = (x - F.col("_mean")) / F.sqrt(F.col("_var"))
    # Guard degenerate dimensions: σ=0 would make the division yield
    # NULL z rows silently (Spark null-on-zero-divisor), and engines
    # disagree on 0/0 — drop constant dimensions explicitly instead
    # (same discipline as mad_outliers' MAD=0 guard).
    return (
        panel.join(
            F.broadcast(
                stats.select("pos", mean, var).filter(F.col("_var") > 0)
            ),
            "pos",
        )
        .select(
            id_col,
            "pos",
            F.round(z, round_to).alias("z"),
        )
    )


def isotropy_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    panel_buckets: int = 32,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-geometry diagnostics: pairwise-cosine statistics over
    a deterministic hash-sampled panel — the in-engine measurement of
    HOW CLUSTERED the embedding space is.  An isotropic corpus has
    E|cos| ≈ 1/√d (≈ 0.125 at d=64 — exactly what docs/RECALL.md found
    qualitatively: partition-probe recall capped at the scanned
    fraction); a collapsed/anisotropic one (the classic "cone effect"
    of untuned encoders) shows E|cos| ≫ that, and every
    blocking/IVF/LSH structure works better than the isotropic floor.
    Run this BEFORE choosing index parameters.

    Physics: the md5 lottery keeps ~1/panel_buckets of vectors (a
    bounded panel — the all-pairs term is panel², never corpus²); the
    panel self-joins broadcast-side, cosines in codegen'd folds,
    DECIMAL-exact aggregates of the 6-decimal-rounded values.

    Output: ONE row — (n_panel, n_pairs, mean_abs_cos, p90_abs_cos,
    max_abs_cos, iso_floor) with iso_floor = 1/√d for reference.
    """
    from flink_kmeans_clustering_spark.functions.vector import cosine_sql, norm_sql
    from flink_kmeans_clustering_spark.operators.sampling import hash_bucket

    # each panel row's norm is folded once, below the self-join, so a
    # pair folds only its dot
    panel = (
        df.filter(
            hash_bucket(F.col(id_col).cast("string"), panel_buckets) == 0
        )
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("n", F.expr(norm_sql("v")))
        .filter(F.col("n") > 0)
    )
    dim = F.size(F.col("v"))
    a, b = panel.alias("a"), panel.alias("b")
    cos = F.expr(f"round(abs({cosine_sql('a.v', 'b.v', 'a.n', 'b.n')}), {round_to})")
    pairs = a.join(
        F.broadcast(b), F.col("a.id") < F.col("b.id")
    ).select(cos.alias("c"))
    n_panel = panel.select(
        F.count(F.lit(1)).alias("n_panel"),
        F.first(dim).alias("_d"),
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("c").cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1)),
            round_to,
        ).alias("mean_abs_cos"),
        F.round(F.expr("percentile(c, 0.9)"), round_to).alias("p90_abs_cos"),
        F.max("c").alias("max_abs_cos"),
    )
    return stats.crossJoin(F.broadcast(n_panel)).select(
        F.col("n_panel").cast("long").alias("n_panel"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "mean_abs_cos",
        "p90_abs_cos",
        "max_abs_cos",
        F.round(F.lit(1.0) / F.sqrt(F.col("_d")), round_to).alias("iso_floor"),
    )
