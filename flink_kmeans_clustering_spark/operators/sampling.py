"""Deterministic sampling and cardinality estimation.

Training-data pipelines need samples that are *reproducible across
engines and runs* — `rand()` seeds don't survive an engine swap, and
row-position sampling breaks under repartitioning.  Content-hash
sampling does: a row is in the sample iff a digest of its key falls in
a fixed bucket range.  md5 is available and bit-identical in Spark,
DuckDB, and every warehouse, so the same SQL reproduces the exact
sample anywhere, at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.functions.hashing import (
    hash_bucket,
    md5_int,
    md5_unit,
)
from flink_kmeans_clustering_spark.functions.vector import squared_l2_sql
from flink_kmeans_clustering_spark.operators.common import quote_ident


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    rate: float = 1 / 16,
    buckets: int = 256,
) -> DataFrame:
    """Keep rows whose hash bucket < rate·buckets (narrow filter).

    The filter is a pure row-local expression — no shuffle, no RNG
    state, pushes through any plan, and two engines hashing the same
    keys produce byte-identical samples.
    """
    keep = int(rate * buckets)
    return df.filter(hash_bucket(F.col(key_col), buckets) < keep)


def approx_distinct(
    df: DataFrame, cols: list[str], group_by: list[str] | None = None, rsd: float = 0.05
) -> DataFrame:
    """HyperLogLog++ distinct-count estimate (``approx_count_distinct``).

    The constant-memory cardinality sketch for 100 TB scans where exact
    ``COUNT(DISTINCT)`` would shuffle every distinct value.  Estimates
    are sketch-implementation-specific (rows-only correctness check);
    accuracy is asserted against exact counts in unit tests.
    """
    aggs = [
        F.approx_count_distinct(c, rsd=rsd).alias(f"approx_{c}") for c in cols
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    buckets: int = 256,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum s keeps rows whose
    hash bucket < rates[s]·buckets.

    The rebalancing pass of a training mix ("keep 10% of crawl, 100%
    of curated"): one narrow filter, no RNG, no shuffle, reproducible
    across engines and runs.  Unlisted strata keep ``default_rate``
    (0.0 = drop).  Nested-sample property per stratum: lowering a rate
    always yields a subset of the higher-rate sample.
    """
    # cast-to-string so numeric keys hash identically in any engine
    # (md5('123') is the cross-engine contract; md5 of raw int bytes
    # would be width/endianness-dependent)
    b = hash_bucket(F.col(key_col).cast("string"), buckets)
    keep = F.lit(int(default_rate * buckets))
    for s, r in sorted(rates.items()):
        keep = F.when(F.col(strata_col) == s, F.lit(int(r * buckets))).otherwise(keep)
    return df.filter(b < keep)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_buckets: int = 2,
    test_buckets: int = 2,
    buckets: int = 16,
) -> DataFrame:
    """Deterministic train/val/test assignment from the key's content
    hash — the split step of every training-data pipeline.

    A row's split is a pure function of its key: stable under
    repartitioning, engine swaps, and re-runs (no RNG), and documents
    with the same key always land in the same split — the property
    that prevents train/test leakage when the corpus is rebuilt.
    Bucket layout: [0, test) = test, [test, test+val) = val, rest
    train; shrinking val/test always yields subsets (same prefix
    property as :func:`deterministic_sample`).

    Adds a ``split`` column; no shuffle, no sort — a narrow projection
    that composes with any downstream write (e.g. ``partitionBy``).
    """
    if val_buckets + test_buckets >= buckets:
        raise ValueError("val + test buckets must leave room for train")
    b = hash_bucket(F.col(key_col).cast("string"), buckets)
    return df.withColumn(
        "split",
        F.when(b < test_buckets, F.lit("test"))
        .when(b < test_buckets + val_buckets, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 20,
    round_to: int | None = 6,
) -> DataFrame:
    """Deterministic weighted sample without replacement of size ``k``
    (Efraimidis & Spirakis 2006): row i is kept iff its key
    ``ln(uᵢ)/wᵢ`` is among the k largest, where ``uᵢ ∈ (0,1]`` —
    equivalent to ranking by ``uᵢ^(1/wᵢ)`` and exactly the weighted
    inclusion probabilities of sequential sampling.

    ``uᵢ`` comes from the row key's md5 (first 8 hex chars as a uniform
    32-bit value, +1 so u is never 0), not an RNG — the same
    content-hash contract as :func:`deterministic_sample`: reproducible
    across engines, runs, and repartitioning.  One narrow projection
    plus ORDER BY+LIMIT → ``TakeOrderedAndProject``: each partition
    keeps its own k best, no global sort, no shuffle of the scan.

    Zero/negative weights are excluded (they have no sampling mass).
    Output: (key, weight, es_key) — es_key rounded BEFORE ranking so an
    independent engine ranks identically (ties broken by key).
    """
    u = md5_unit(F.col(key_col).cast("string"))
    es = F.log(u) / F.col(weight_col).cast("double")
    if round_to is not None:
        es = F.round(es, round_to)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(key_col),
            F.col(weight_col).alias("weight"),
            es.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.col(key_col))
        .limit(k)
    )


def _cms_bucket(token: Column, lane: int, width: int) -> Column:
    """Lane hash: first 8 md5-hex chars of 'token#lane' as int, mod width.

    md5 (not xxhash64) so an independent engine reproduces the exact
    bucket assignment — same portability decision as the MinHash/SimHash
    lane families.  The 32-bit value is non-negative, so plain ``%`` is
    already a positive modulus in every engine.
    """
    return md5_int(F.concat(token, F.lit(f"#{lane}"))) % width


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch estimates beside exact counts for the corpus'
    top-``top_n`` tokens — the heavy-hitter primitive (Cormode &
    Muthukrishnan 2005) that answers "how often does X occur?" from
    ``depth × width`` counters instead of a full-vocabulary table.

    Sketch build is pure aggregation: explode tokens, fan each
    occurrence out to its ``depth`` (lane, bucket) cells (posexplode of
    a codegen'd bucket array — rows × depth, map-side combined), one
    grouped count.  At 100 TB the sketch is ``depth·width`` rows
    regardless of vocabulary size — it broadcasts; the estimate for a
    token is the MIN over its lanes' cells, which upper-bounds the true
    count (one-sided error ≤ e/width·total with prob 1−e^−depth).

    Output: (token, exact_freq, cms_estimate) for the exact top-N
    (ties broken by token), with ``cms_estimate ≥ exact_freq`` always.
    """
    from flink_kmeans_clustering_spark.functions.text import tokenize

    tok = df.select(F.explode(tokenize(F.col(text_col))).alias("t"))
    cells = tok.select(
        F.posexplode(
            F.array(*[_cms_bucket(F.col("t"), i, width) for i in range(depth)])
        ).alias("lane", "bucket")
    )
    cms = cells.groupBy("lane", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_freq"))
        .orderBy(F.desc("exact_freq"), F.col("t"))
        .limit(top_n)
    )
    probes = exact.select(
        "t",
        "exact_freq",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("t"), i, width) for i in range(depth)])
        ).alias("lane", "bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["lane", "bucket"])
        .groupBy("t", "exact_freq")
        .agg(F.min("c").alias("cms_estimate"))
        .select(F.col("t").alias("token"), "exact_freq", "cms_estimate")
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    targets: dict[str, float],
    key_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Sample a corpus DOWN to target mixture proportions — the
    "data mixing" step of a training pipeline ("make the batch 60%
    curated / 30% web / 10% code") where :func:`stratified_hash_sample`
    takes rates as given, this derives them.

    The largest achievable output honoring ``targets`` with per-stratum
    rate ≤ 1 is bounded by the stratum that would have to over-sample:
    ``N_out = min_s(count_s / target_s)``; then ``rate_s = target_s ·
    N_out / count_s`` and rows keep iff their md5 bucket clears
    ``⌊rate_s · buckets⌋``.  The per-stratum counts are k-row driver
    metadata (one aggregate); the filter itself is the same narrow,
    engine-reproducible hash predicate as every sampler here, so the
    exact mixture is replayable by the DuckDB oracle from the same
    arithmetic.  Bucket quantization makes proportions exact to
    1/buckets; strata missing from ``targets`` are dropped (weight 0).
    """
    if not (1 <= buckets <= 256) or 256 % buckets != 0:
        raise ValueError("buckets must be a divisor of 256 (1, 2, 4, ..., 256)")
    if not targets or any(t <= 0 for t in targets.values()):
        raise ValueError("targets must be positive")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] in targets
    }
    if not counts:
        return df.filter(F.lit(False))
    # same left-to-right float evaluation as the SQL replay
    n_out = min(counts[s] / targets[s] for s in sorted(counts))
    keep = F.lit(0)
    for s in sorted(counts):
        keep = F.when(
            F.col(strata_col) == s,
            F.lit(int(buckets * targets[s] * n_out / counts[s])),
        ).otherwise(keep)
    b = hash_bucket(F.col(key_col).cast("string"), buckets)
    return df.filter(b < keep)


def kmv_distinct(
    df: DataFrame,
    col: str,
    group_by: str,
    k: int = 64,
    round_to: int | None = 6,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    — the DETERMINISTIC, any-engine-replayable twin of
    :func:`approx_distinct`'s HLL++.

    Each value hashes to a uniform ``u ∈ (0,1]`` via the same md5
    contract as :func:`weighted_sample` (content hash, not RNG); a
    group keeping its k smallest distinct hashes estimates
    ``D ≈ (k−1)/u₍k₎``.  Groups with fewer than k distinct values
    report their EXACT count (the sketch holds every hash).

    Scale shape: the first exchange is the distinct on (group, hash) —
    map-side combine collapses repeated events to one row per distinct
    value, so it carries |distinct values| rows, not |events| (HLL
    still wins at extreme cardinality, which is why both exist; this
    twin trades that for bit-reproducibility).  The per-group k-th
    smallest is a window ``row_number ≤ k`` — WindowGroupLimit
    pre-filters each partition to k rows before the group exchange.

    Output: (group, n_kept, est_distinct) — est rounded to
    ``round_to``; ties in u are impossible for distinct inputs (md5
    collisions aside), so the result is order-free.
    """
    from pyspark.sql import Window

    u = md5_unit(F.col(col).cast("string"))
    hashes = df.select(F.col(group_by).alias("grp"), u.alias("u")).distinct()
    w = Window.partitionBy("grp").orderBy("u")
    kept = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    agg = kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("u").alias("u_k")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("u_k"))
    if round_to is not None:
        est = F.round(est, round_to)
    return agg.select(
        F.col("grp").alias(group_by), "n_kept", est.alias("est_distinct")
    )


def sampled_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_by: str,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    rate: float = 1 / 4,
    round_to: int | None = 6,
) -> DataFrame:
    """Hash-sampled exact quantiles — the DETERMINISTIC twin of the
    Greenwald-Khanna ``approx_percentile`` sketch.

    A content-hash Bernoulli sample (md5 bucket on ``key_col``, the
    :func:`deterministic_sample` contract) cuts the sort input by
    ``rate``, then EXACT discrete percentiles (``percentile`` with
    type-preserving semantics) are taken per group on the sample.
    Sketch-free: every engine hashing the same keys selects the same
    rows and discrete percentiles of a fixed multiset are exact — so
    unlike GK's implementation-specific summaries this replays
    anywhere, while keeping the approximate-answer-from-less-data
    shape (the sample is rate·N rows; at 100 TB the sort input shrinks
    by 1/rate and the group exchange carries only sampled rows).

    Output: (group, n_sampled, q50, q90, q99) for the default probs.
    """
    denom = round(1 / rate)
    bucket = md5_int(F.col(key_col).cast("string")) % denom
    sampled = df.filter(bucket == 0)
    aggs = [F.count(F.lit(1)).alias("n_sampled")]
    for p in probs:
        q = F.expr(f"percentile({value_col}, {p!r})")
        if round_to is not None:
            q = F.round(q, round_to)
        aggs.append(q.alias(f"q{int(p * 100)}"))
    return sampled.groupBy(group_by).agg(*aggs)


def temperature_mixture_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
    buckets: int = 256,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the T5/PaLM data-mixing
    knob: target proportions are DERIVED from the observed mix,
    ``target_s ∝ p_s^α`` (α < 1 flattens the distribution toward
    uniform, up-weighting small sources), then the corpus downsamples
    to the largest output honoring them exactly like
    :func:`mixture_sample` (md5-bucket predicate, rate ≤ 1 bound).

    Determinism: with the default ``α = 0.5`` the power is
    ``sqrt`` — IEEE-correctly-rounded in every engine — and the
    normalizer folds the weights in sorted-stratum order, so the whole
    rate derivation replays bit-for-bit in SQL (``list_sum(list(w
    ORDER BY s))``).  Other α values go through ``pow`` and are exact
    only to libm agreement — fine for production, not for a
    hash-compared oracle.

    One k-row aggregate of driver metadata; the filter is the same
    narrow in-scan hash predicate as every sampler here.
    """
    import math

    if not (1 <= buckets <= 256) or 256 % buckets != 0:
        raise ValueError("buckets must be a divisor of 256 (1, 2, 4, ..., 256)")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] is not None
    }
    if not counts:
        return df.filter(F.lit(False))
    n_tot = sum(counts[s] for s in sorted(counts))
    if alpha == 0.5:
        weights = {s: math.sqrt(counts[s] / n_tot) for s in counts}
    else:
        weights = {s: (counts[s] / n_tot) ** alpha for s in counts}
    z = 0.0
    for s in sorted(weights):  # sorted-stratum fold, replayed by the oracle
        z += weights[s]
    targets = {s: weights[s] / z for s in weights}
    n_out = min(counts[s] / targets[s] for s in sorted(counts))
    keep = F.lit(0)
    for s in sorted(counts):
        keep = F.when(
            F.col(strata_col) == s,
            F.lit(int(buckets * targets[s] * n_out / counts[s])),
        ).otherwise(keep)
    b = hash_bucket(F.col(key_col).cast("string"), buckets)
    return df.filter(b < keep)


def kcenter_sample(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Greedy k-center (farthest-point) diversity sampling over an
    embedding column — the coreset seed a data-curation pipeline uses
    to pick a maximally-spread subset (and the 2-approximation to the
    k-center objective, Gonzalez TCS'85; also k-means++'s
    deterministic cousin).

    Each of the k−1 rounds is ONE distributed job: min-dist² to the
    chosen set via the same literal-matrix fold as
    :func:`~flink_kmeans_clustering_spark.operators.kmeans.assign_points_nd`
    (chosen set enters the plan as a literal — no join, no shuffle of
    the corpus), then a (dist² DESC, id ASC) ``orderBy().limit(1)``
    that compiles to TakeOrderedAndProject — one row to the driver per
    round.  Driver state is k rows; corpus work is k narrow scans of a
    cached projection.  At 100 TB: k scans, zero shuffles.

    Deterministic: seed = lowest id; dist² folds are index-ordered so
    an independent engine replays the identical doubles; ties at equal
    dist² break to the lowest id.

    Output: (rank, vec_id, dist2) — dist2 is the point's min-dist² to
    the already-chosen set at selection time (NULL for the seed),
    rounded AFTER selection (ranking uses exact values).
    """
    from flink_kmeans_clustering_spark.operators.kmeans import (
        assign_points_nd,
    )

    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).cache()
    [seed] = base.orderBy(id_col).limit(1).collect()
    chosen = [(int(seed[id_col]), [float(x) for x in seed["_v"]], None)]
    for _ in range(k - 1):
        cents = [c[1] for c in chosen]
        scored = assign_points_nd(
            base, cents, vec_col="_v", cluster_col="_c", dist2_col="_d2"
        )
        [far] = (
            scored.orderBy(F.desc("_d2"), F.col(id_col))
            .limit(1)
            .select(id_col, "_v", "_d2")
            .collect()
        )
        chosen.append(
            (int(far[id_col]), [float(x) for x in far["_v"]], float(far["_d2"]))
        )
    base.unpersist()
    spark = df.sparkSession
    rows = [(r, cid, d) for r, (cid, _, d) in enumerate(chosen)]
    out = spark.createDataFrame(
        rows, schema=f"rank int, {id_col} bigint, dist2 double"
    )
    if round_to is not None:
        # F.round, not Python round: half-away-from-zero like the
        # DuckDB oracle (Python rounds half-to-even).
        out = out.withColumn("dist2", F.round("dist2", round_to))
    return out


def domain_cap(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 10,
) -> DataFrame:
    """Hard per-domain frequency cap — the over-representation guard a
    web-crawl pipeline applies before mixing (no single domain may
    contribute more than ``cap`` documents, cf. the per-domain limits
    in C4/RefinedWeb-style curation).

    Unlike the rate-based samplers above (which scale a stratum down
    proportionally), this is an exact top-``cap`` per key: documents
    rank within their domain by (md5(id), id) — a deterministic,
    content-independent lottery — and rank ≤ cap survives.  ONE
    shuffle (the window partition by domain); rank ≤ cap is the
    WindowGroupLimit shape, so each partition keeps a cap-sized heap
    per domain rather than sorting the stratum.  A pathological
    mega-domain concentrates on one task — at that skew, pre-filter
    with a cheap hash-rate cut to ~2×cap survivors per domain first
    (the two-phase trick), which this operator composes with.

    Output: (source, n_total, n_kept, kept_id_sum) — kept_id_sum
    checksums WHICH documents survived, not just how many.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = df.select(strata_col, id_col).withColumn(
        "_r", F.row_number().over(w)
    )
    return ranked.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("_r") <= cap, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("_r") <= cap, F.col(id_col))).alias("kept_id_sum"),
    )


def token_budget_sample(
    docs: DataFrame,
    budget: int,
    budgets: dict[str, int] | None = None,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget-capped domain mixing — the "fill each domain to N
    tokens" step that turns mixture WEIGHTS into an actual training set
    (every LLM data recipe ends here: per-domain token budgets, not doc
    counts, because docs vary 100× in length).

    Within each domain, documents draw lottery order by
    ``(md5(id), id)`` — deterministic and content-independent, like
    :func:`domain_cap` — and survive while the running token total
    BEFORE them is under the domain's budget, so the document that
    crosses the line is still taken (the budget is a floor-filler, not
    a hard ceiling; every non-empty domain contributes ≥ 1 document).
    ``budgets`` overrides the default ``budget`` per domain.

    Scale physics: token counts come off the scan (in-scan ``size`` of
    the shared tokenizer — no explode); ONE exchange on the domain key
    for the running-sum window.  A mega-domain concentrates its sort on
    one task — at that skew, pre-cut with a hash-rate filter to ~2×
    the budget's expected survivor count first (composes unchanged).

    Output: one row per domain —
    (source, budget, n_docs, n_kept, tokens_total, tokens_kept,
    kept_id_sum); ``kept_id_sum`` checksums WHICH documents survived.
    """
    from pyspark.sql.window import Window

    from flink_kmeans_clustering_spark.functions.text import tokenize

    bcol = F.lit(budget)
    for s in sorted(budgets or {}):
        bcol = F.when(F.col(strata_col) == s, F.lit(budgets[s])).otherwise(
            bcol
        )
    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = docs.select(
        strata_col,
        id_col,
        bcol.cast("long").alias("budget"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("_nt"),
    ).withColumn("_before", F.coalesce(F.sum("_nt").over(w), F.lit(0)))
    kept = F.col("_before") < F.col("budget")
    return scored.groupBy(strata_col, "budget").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum("_nt").alias("tokens_total"),
        F.sum(F.when(kept, F.col("_nt")).otherwise(F.lit(0))).alias(
            "tokens_kept"
        ),
        F.sum(F.when(kept, F.col(id_col))).alias("kept_id_sum"),
    )


def group_aware_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_key: Column | None = None,
    val_buckets: int = 2,
    test_buckets: int = 2,
    buckets: int = 16,
) -> DataFrame:
    """Leakage-safe train/val/test split: duplicates are assigned BY
    GROUP, not by document — the eval-hygiene step
    :func:`train_val_test_split` can't give when the corpus carries
    duplicates under different ids (a verbatim copy of a train doc in
    the test split silently inflates eval scores; dedup papers'
    train/test-leak audits exist because of exactly this).

    ``group_key`` defines "the same document" (default: md5 of the raw
    text — the exact-dup key; pass a minhash band or a CC root column
    for near-dup grouping).  Every group gets a canonical root = MIN
    id in the group (ONE key-exchange aggregate, broadcast back via
    the hash join AQE picks for the tiny root table... at corpus scale
    it degrades to a key-partitioned join on the same exchange), and
    the split is the content-hash bucket of the ROOT id, so all group
    members land together — same bucket layout and subset-shrink
    property as train_val_test_split.

    Output: docs + (group_root, split).
    """
    if group_key is None:
        group_key = F.md5(F.col(text_col))
    keyed = docs.withColumn("_gk", group_key)
    roots = keyed.groupBy("_gk").agg(F.min(id_col).alias("group_root"))
    b = hash_bucket(F.col("group_root").cast("string"), buckets)
    if val_buckets + test_buckets >= buckets:
        raise ValueError("val + test buckets must leave room for train")
    return (
        keyed.join(roots, "_gk")
        .drop("_gk")
        .withColumn(
            "split",
            F.when(b < test_buckets, F.lit("test"))
            .when(b < test_buckets + val_buckets, F.lit("val"))
            .otherwise(F.lit("train")),
        )
    )


def epoch_upsample(
    df: DataFrame,
    multipliers: dict[str, float],
    default: float = 1.0,
    strata_col: str = "source",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """Fractional epoch up/down-sampling — the "repeat the small
    high-quality domain 2.5×, quarter the web crawl" recipe of LLM
    data mixing (cf. the epoch columns in LLaMA/Gopher data tables):
    every document in stratum s appears ``floor(m_s)`` times, plus one
    more for the deterministic ``frac(m_s)`` hash-share of documents.

    All arithmetic happens driver-side on the LITERAL multipliers
    (``keep_s = int(m_s·buckets) − floor(m_s)·buckets`` — exact
    integers, nothing float crosses engines); the row expansion is a
    narrow ``explode(sequence(...))`` — a Generate, ZERO shuffle — so
    at 100 TB the upsample streams through the scan.  m_s < 1 is a
    plain downsample (zero full epochs, fractional share only),
    m_s = 0 drops the stratum.

    Output: (source, epoch, n_docs, id_sum) — the per-epoch census
    with an id-sum checksum of WHICH docs repeat (one tiny aggregate
    over the expanded stream).
    """
    plan: dict[str, tuple[int, int]] = {}
    for s in sorted(multipliers):
        m = multipliers[s]
        if m < 0:
            raise ValueError(f"negative multiplier for {s!r}")
        full = int(m)
        plan[s] = (full, int(m * buckets) - full * buckets)
    dfull = int(default)
    dkeep = int(default * buckets) - dfull * buckets
    full_c, keep_c = F.lit(dfull), F.lit(dkeep)
    for s, (fs, ks) in plan.items():
        cond = F.col(strata_col) == s
        full_c = F.when(cond, F.lit(fs)).otherwise(full_c)
        keep_c = F.when(cond, F.lit(ks)).otherwise(keep_c)
    b = hash_bucket(F.col(id_col).cast("string"), buckets)
    n = (full_c + (b < keep_c).cast("int")).alias("_n")
    seq = F.when(
        F.col("_n") > 0, F.sequence(F.lit(0), F.col("_n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    expanded = df.select(F.col(strata_col).alias("source"), F.col(id_col), n).select(
        "source", id_col, F.explode(seq).alias("epoch")
    )
    return expanded.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(id_col).alias("id_sum"),
    )


def neyman_allocation_sample(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    budget: int = 1000,
    id_col: str = "event_id",
    round_to: int = 6,
) -> DataFrame:
    """Neyman-optimal stratified sampling: allocate a fixed sample
    budget across strata proportional to N_h·S_h (stratum size × value
    std) — the allocation that minimizes the estimator's variance for
    a fixed cost (Neyman 1934; every survey-sampling text).  A
    training pipeline uses this to spend its labeling/eval budget
    where the signal varies, not uniformly.

    Two stages, both deterministic and engine-replayable:

    1. ONE aggregate computes every stratum's N_h and S_h (population
       std from DECIMAL-exact Σx/Σx², rounded to 6 decimals so both
       engines hold the identical double).  Weights w_h = N_h·S_h_6;
       alloc_h = min(N_h, floor(budget · w_h / Σw)) — plain IEEE
       double arithmetic on identical inputs, so the floor is
       engine-identical (zero-variance strata get weight 0).
    2. The sample itself is hash-ranked: rows rank per stratum by
       (md5(id), id) — content-defined, partition-independent — and
       rank ≤ alloc_h survives.  One exchange on the strata key does
       the ranking; the allocation table (O(strata)) broadcasts back.

    Output per stratum: (strata, n_rows, std6, alloc, n_sampled,
    sample_sum) — n_sampled == alloc by construction (asserting that
    equality IS the oracle check), sample_sum is the decimal-rounded
    value mass the sample captured.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    x = F.col(value_col).cast("double")
    stats = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x.cast("decimal(25,8)")).alias("_sx"),
        F.sum((x * x).cast("decimal(30,10)")).alias("_sxx"),
    )
    mean = F.col("_sx").cast("double") / F.col("n_rows")
    var = F.col("_sxx").cast("double") / F.col("n_rows") - mean * mean
    std6 = F.round(F.sqrt(F.greatest(var, F.lit(0.0))), round_to)
    stats = stats.select(strata_col, "n_rows", std6.alias("std6"))
    w = F.col("n_rows").cast("double") * F.col("std6")
    from pyspark.sql import Window

    total_w = F.sum(w).over(Window.partitionBy())
    alloc = F.when(
        total_w > 0,
        F.least(
            F.col("n_rows"),
            F.floor(F.lit(float(budget)) * w / total_w).cast("long"),
        ),
    ).otherwise(F.lit(0))
    allocs = stats.select(
        strata_col, "n_rows", "std6", alloc.alias("alloc")
    )
    wr = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = df.select(
        F.col(strata_col), F.col(id_col), x.alias("_v")
    ).withColumn("_rnk", F.row_number().over(wr))
    sampled = ranked.join(F.broadcast(allocs), strata_col).filter(
        F.col("_rnk") <= F.col("alloc")
    )
    agg = sampled.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.round(F.sum(F.col("_v").cast("decimal(25,8)")), round_to)
        .cast("double")
        .alias("sample_sum"),
    )
    return allocs.join(agg, strata_col, "left").select(
        strata_col,
        "n_rows",
        "std6",
        "alloc",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias(
            "n_sampled"
        ),
        F.coalesce(F.col("sample_sum"), F.lit(0.0)).alias("sample_sum"),
    )


def coreset_sample(
    df: DataFrame,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lightweight k-means coreset (Bachem, Lucic & Krause, KDD 2018):
    sensitivity ``s(x) = 1/(2n) + d(x, μ)² / (2·Σ_y d(y, μ)²)`` with μ
    the corpus mean, draw ``k`` points with probability ∝ s(x), weight
    each kept point ``w(x) = 1/(k·s(x))`` so the coreset is an unbiased
    estimator of any k-means objective.

    This is how you k-means 100 TB: ONE pass for μ (per-dim partial
    means, map-side combined), ONE pass for the distance mass and the
    weighted draw — then the expensive Lloyd loop runs on k rows.

    Determinism: the corpus mean uses a plain double ``avg`` — exact
    only under the bounded-magnitude assumption that float32-origin
    components accumulate within the 53-bit mantissa headroom (true
    for unit-scale embeddings at the corpus sizes tested; a corpus
    whose per-dim component sums exceed ~2^29 would need the DECIMAL
    per-dim sums used elsewhere, e.g. ``relational._dsum_r6``, to stay
    order-independent).  Per-row d² folds in index order, the
    distance mass Σd² is summed in DECIMAL space (d² is full-mantissa —
    a double sum would be partition-order dependent), and the draw is
    Efraimidis-Spirakis with md5-derived uniforms and rounded keys —
    the same contract as :func:`weighted_sample`, replayable by any
    engine.

    Output: (id, d2, sensitivity, coreset_weight, es_key) for the k
    sampled rows, ordered by (es_key DESC, id).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ex = df.select(F.posexplode(vec).alias("pos", "v"))
    mu = ex.groupBy("pos").agg(F.avg("v").alias("mu_v"))
    mu_row = mu.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu_v"))),
            lambda s: s["mu_v"],
        ).alias("mu")
    )
    n_row = df.agg(F.count(F.lit(1)).alias("_n"))
    d2 = F.expr(squared_l2_sql(
        f"transform({quote_ident(vec_col)}, x -> CAST(x AS DOUBLE))", "mu"
    ))
    with_d2 = (
        df.crossJoin(F.broadcast(mu_row))
        .select(
            F.col(id_col), d2.cast("decimal(25,10)").alias("_d2d")
        )
    )
    mass = with_d2.agg(F.sum("_d2d").alias("_mass"))
    sens = (
        F.lit(0.5) / F.col("_n")
        + F.lit(0.5)
        * (F.col("_d2d").cast("double") / F.col("_mass").cast("double"))
    )
    scored = (
        with_d2.crossJoin(F.broadcast(mass))
        .crossJoin(F.broadcast(n_row))
        .select(
            F.col(id_col),
            F.round(F.col("_d2d").cast("double"), 6).alias("d2"),
            sens.alias("_sens"),
        )
    )
    u = md5_unit(F.col(id_col).cast("string"))
    es = F.round(F.log(u) / F.col("_sens"), 6)
    return (
        scored.select(
            F.col(id_col),
            F.col("d2"),
            F.round(F.col("_sens"), 9).alias("sensitivity"),
            F.round(F.lit(1.0) / (F.lit(float(k)) * F.col("_sens")), 6).alias(
                "coreset_weight"
            ),
            es.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.col(id_col))
        .limit(k)
    )


DOREMI_BUCKETS = 64
DOREMI_ROUNDS = 5
DOREMI_ETA = 1.0
DOREMI_SMOOTH = 0.01


def doremi_domain_weights(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    n_buckets: int = DOREMI_BUCKETS,
    rounds: int = DOREMI_ROUNDS,
    eta: float = DOREMI_ETA,
    smooth: float = DOREMI_SMOOTH,
) -> DataFrame:
    """DoReMi-style domain-weight learning (Xie et al., NeurIPS 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"): learn a training mixture over corpus domains by
    multiplicative-weights updates on per-domain EXCESS loss.

    The paper's excess loss is proxy-model loss minus reference-model
    loss under the current mixture.  The deterministic, engine-
    replayable analogue used here: the "model" at round t is the
    hashed-unigram LM of the α_t-weighted corpus, q_t(b) = Σ_d
    α_t(d)·p_d(b); domain d's loss is its cross-entropy H(p_d, q_t)
    and its reference loss the best achievable H(p_d, p_d), so the
    excess is EXACTLY the KL divergence KL(p_d ‖ q_t) ≥ 0 — domains
    the current mixture underserves get upweighted, and the
    paper's max(0, ·) clamp is a no-op by construction.  Update:
    α'(d) ∝ α_t(d)·exp(η·KL_d), then uniform-smooth
    α_{t+1} = (1−c)·α' + c/K (the paper's step).

    Distributed shape — this is how the 100 TB run looks too: ONE
    token explode → (domain, md5-bucket) count shuffle (value domain
    capped at K·``n_buckets`` rows by hashing, the same trick as
    DSIR), plus a narrow per-domain doc/token count.  The iteration
    then runs on the collected K×B count matrix — k-row driver state,
    exactly the K-Means bulk-iteration contract (KMeans.java:148-236's
    loop state), NOT a per-row collect: K domains × 64 buckets is a
    few KB regardless of corpus size.

    Engine-replayable fixed-point discipline: p_d(b) is an exact
    add-1-smoothed ratio of BIGINT counts; per-round KL_d is rounded
    HALF-UP to 9 decimals BEFORE exp; updated α is rounded half-up to
    12 decimals — both engines (Python driver here, recursive-CTE SQL
    in the oracle) consume identical rounded state each round, so libm
    ulp noise cannot compound across rounds.  All folds run in fixed
    (bucket, then domain-name) order.

    Output: one row per domain — (domain, n_docs, n_tokens,
    token_share, doremi_weight, kl) ordered by domain, where kl is the
    final-round KL(p_d ‖ q_T) and Σ doremi_weight = 1 (pre-rounding).
    """
    import math

    from flink_kmeans_clustering_spark.functions.text import tokenize

    spark = df.sparkSession
    out_schema = (
        f"{domain_col} string, n_docs long, n_tokens long, "
        "token_share double, doremi_weight double, kl double"
    )
    bucket = md5_int(F.col("_tok")) % n_buckets
    cnt_rows = (
        df.select(F.col(domain_col).alias("_d"), F.explode(tokenize(F.col(text_col))).alias("_tok"))
        .select("_d", bucket.alias("_b"))
        .groupBy("_d", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    doc_rows = (
        df.groupBy(F.col(domain_col).alias("_d"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    if not doc_rows:
        return spark.createDataFrame([], out_schema)

    def _r(x: float, digits: int) -> float:
        # HALF-UP (SQL ROUND); Python round() is half-even.
        s = 10.0 ** digits
        return math.floor(x * s + 0.5) / s

    n_docs = {r["_d"]: r["_n"] for r in doc_rows}
    domains = sorted(n_docs)
    k = len(domains)
    counts = {(r["_d"], r["_b"]): r["_c"] for r in cnt_rows}
    c_d = {
        d: sum(counts.get((d, b), 0) for b in range(n_buckets))
        for d in domains
    }
    p = [
        [
            (counts.get((d, b), 0) + 1.0) / (c_d[d] + float(n_buckets))
            for b in range(n_buckets)
        ]
        for d in domains
    ]
    alpha = [1.0 / k] * k

    def _kl(al: list) -> list:
        q = [
            sum(al[d] * p[d][b] for d in range(k))
            for b in range(n_buckets)
        ]
        return [
            _r(
                sum(
                    p[d][b] * math.log(p[d][b] / q[b])
                    for b in range(n_buckets)
                ),
                9,
            )
            for d in range(k)
        ]

    for _ in range(rounds):
        kl = _kl(alpha)
        raw = [alpha[d] * math.exp(eta * kl[d]) for d in range(k)]
        z = sum(raw)
        alpha = [
            _r((1.0 - smooth) * raw[d] / z + smooth / k, 12)
            for d in range(k)
        ]
    kl_final = _kl(alpha)
    total_tokens = sum(c_d[d] for d in domains)
    rows = [
        (
            d,
            int(n_docs[d]),
            int(c_d[d]),
            _r(c_d[d] / total_tokens, 6) if total_tokens else 0.0,
            _r(alpha[i], 6),
            _r(kl_final[i], 6),
        )
        for i, d in enumerate(domains)
    ]
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                domain_col,
                "n_docs",
                "n_tokens",
                "token_share",
                "doremi_weight",
                "kl",
            ],
        ),
        schema=out_schema,
    )
