"""Deduplication operators for large-scale document/embedding corpora.

North-star extension surface (SURVEY.md §2.6): exact hash-dedup, word
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
Everything is DataFrame-composed and shuffle-conscious:

* Pair generation is always *blocked* (shared shingle, LSH band bucket,
  SimHash chunk, or a caller-given blocking column) — never an
  unconditioned O(n²) cross join.
* ``max_df`` frequency capping drops ubiquitous shingles before the
  self-join: on a web-scale corpus a stopword shingle would otherwise
  generate quadratic candidate pairs under one join key (the classic
  LSH skew failure).
* Signatures/hashes are computed inside codegen during the scan
  (functions.hashing); the only shuffles are the candidate-pair joins
  and the per-pair aggregation.
* Embedding cosine pairs have one kernel, :func:`embedding_cosine_pairs`
  (per-block BLAS shortlist, exact index-ordered fold values); semantic
  and two-stage dedup and the threshold histogram build on it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from flink_kmeans_clustering_spark.functions.vector import dot_sql, l2_normalize_sql
from flink_kmeans_clustering_spark.operators.common import array_lit_sql, spread as _spread
from flink_kmeans_clustering_spark.functions.hashing import (
    band_hashes,
    hamming64,
    signature_similarity,
    simhash_chunks,
)
from flink_kmeans_clustering_spark.functions.text import (
    exploded_shingles,
    ngram_shingles,
    tokenize,
)


# ---------------------------------------------------------------------------
# Exact deduplication
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, keys: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Group rows by exact key equality: keys + (keep_id, n_dups).

    ``keep_id`` is the smallest id in the group (deterministic
    representative); one hash-partition shuffle on the keys with
    map-side partial aggregation.
    """
    return df.groupBy(*keys).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dedup (exact similarity, blocked by shared shingle)
# ---------------------------------------------------------------------------


DEFAULT_NGRAM_MAX_DF = 20


def _ngram_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared pair generator for the shingle-overlap family: candidate
    (id_a, id_b, inter, sz_a, sz_b) rows — exact integer intersection
    and full distinct-set sizes — from which Jaccard (symmetric) or
    containment (asymmetric) are one arithmetic projection each.

    Blocked self-join on shared shingles: only documents sharing at
    least one shingle ever meet (a pair below 1/(|A|+|B|-1) Jaccard is
    unreachable, which is exactly the pairs we don't want).  ``max_df``
    drops shingles occurring in more than that many documents before
    the join — **on by default** (``DEFAULT_NGRAM_MAX_DF``): on a web
    corpus one ubiquitous stopword shingle makes the candidate join
    quadratic under a single key, so the uncapped form is a latent
    skew bomb.  Pass ``max_df=None`` explicitly for the exact small-
    corpus semantics (pairs whose only shared shingles are ubiquitous
    then re-enter the result).

    Intersections count only surviving shingles; set sizes stay full,
    so capping can only lower a pair's overlap ratio (never inflate
    it).
    """
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    # Shingles via the window-lead stream (functions.text.
    # exploded_shingles): exploding a computed shingle ARRAY makes the
    # optimizer re-inline the token regex into the HOF lambda under the
    # Generate (regex per shingle position — ~10× the stage, measured);
    # the lead form stays in codegen and reuses _spread's id
    # partitioning for its window and the set aggregation.  Each
    # document's FULL distinct-set size rides along with every exploded
    # row, so the union term of the Jaccard needs no size join back.
    # Documents with zero tokens emit no rows, which is the correct
    # semantics (they can share nothing).
    ex = exploded_shingles(base, "id", text_col, n=n, with_size=True)
    if max_df is not None:
        # Posting-list pair generation: ONE shuffle groups the exploded
        # shingles by value; the df cap bounds each surviving list at
        # max_df entries (shingles are distinct per doc, so list length
        # = document frequency), and in-list expansion emits at most
        # max_df·(max_df-1)/2 pairs per shingle — all in codegen'd
        # array HOFs.  Compared to the cap-agg + broadcast-join +
        # shingle self-join shape this saves two shuffles and two full
        # recomputes of the shingle subtree.
        lists = (
            ex.groupBy("sh")
            .agg(F.array_sort(F.collect_list(F.struct("id", "sz"))).alias("ids"))
            .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
        )
        pair_structs = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        x["sz"].alias("sz_a"),
                        y["sz"].alias("sz_b"),
                    ),
                ),
            )
        )
        pair_rows = lists.select(F.explode(pair_structs).alias("p"))
    else:
        # Uncapped exact semantics: blocked self-join — a ubiquitous
        # shingle makes pair generation quadratic either way, but the
        # join spreads that work across tasks, whereas a posting list
        # would concentrate it (and its memory) in one row.
        # Documented small-input-only.
        a = ex.select(
            F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "sh"
        ).alias("a")
        b = ex.select(
            F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "sh"
        ).alias("b")
        pair_rows = a.join(
            b, (F.col("a.sh") == F.col("b.sh")) & (F.col("id_a") < F.col("id_b"))
        ).select(F.struct("id_a", "id_b", "sz_a", "sz_b").alias("p"))
    return (
        pair_rows.groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("p.sz_a").alias("sz_a"),
            F.first("p.sz_b").alias("sz_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_NGRAM_MAX_DF,
) -> DataFrame:
    """Candidate pairs with exact n-gram-shingle Jaccard ≥ threshold
    (see :func:`_ngram_pair_stats` for the pair-generation physics).

    Output: (id_a, id_b, jaccard) with id_a < id_b.  Jaccard is an
    exact ratio of integers — engine-independent, oracle-exact.
    """
    inter = _ngram_pair_stats(df, id_col, text_col, n, max_df)
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_NGRAM_MAX_DF,
) -> DataFrame:
    """Document-containment pairs: |A∩B| / min(|A|, |B|) ≥ threshold.

    The dedup criterion Jaccard MISSES: a short document fully embedded
    in a long one (quoted article, boilerplate-wrapped repost) has
    containment ≈ 1 while its Jaccard ≈ |A|/|B| can sit far below any
    near-dup threshold.  Web-corpus pipelines (RefinedWeb-style) run
    both filters.  Same single-shuffle posting-list physics as the
    Jaccard form — only the final arithmetic projection differs; the
    ``inner_id`` column names which side is the contained one (ties →
    the smaller set; equal sizes → id_a).

    Output: (id_a, id_b, inner_id, containment) with id_a < id_b.
    """
    inter = _ngram_pair_stats(df, id_col, text_col, n, max_df)
    cont = F.col("inter") / F.least("sz_a", "sz_b")
    inner = F.when(F.col("sz_b") < F.col("sz_a"), F.col("id_b")).otherwise(
        F.col("id_a")
    )
    return inter.select(
        "id_a", "id_b", inner.alias("inner_id"), cont.alias("containment")
    ).filter(F.col("containment") >= threshold)


def ngram_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    jaccard_threshold: float = 0.5,
    containment_threshold: float = 0.8,
    max_df: int | None = DEFAULT_NGRAM_MAX_DF,
) -> DataFrame:
    """Pairs that are near-dups by EITHER Jaccard OR containment — the
    dual criterion web-corpus dedup runs (RefinedWeb-style): Jaccard
    catches same-length rewrites, containment catches a short document
    embedded in a long one.  ONE pass of the shared posting-list
    generator (:func:`_ngram_pair_stats`); both ratios are projections
    off the same (inter, sz_a, sz_b) row, so the dual filter costs no
    second shuffle.

    Output: (id_a, id_b, jaccard, containment) with id_a < id_b,
    keeping rows where either ratio clears its threshold.
    """
    inter = _ngram_pair_stats(df, id_col, text_col, n, max_df)
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    cont = F.col("inter") / F.least("sz_a", "sz_b")
    return inter.select(
        "id_a", "id_b", jac.alias("jaccard"), cont.alias("containment")
    ).filter(
        (F.col("jaccard") >= jaccard_threshold)
        | (F.col("containment") >= containment_threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup (approximate, banded)
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard ≥ threshold.

    shingle → minhash signature (computed in the scan) → band digests →
    explode bands → self-join on (band, digest) — only documents whose
    signatures agree on a full band ever meet.  The estimate is the
    fraction of agreeing signature positions; callers wanting exact
    similarity feed these pairs to :func:`ngram_jaccard_pairs` logic.

    ``hash_fn`` picks the lane-hash family: ``"xxhash64"`` (default —
    fastest, JVM-only) or ``"md5"`` (60-bit md5 hex-slice lanes that a
    DuckDB oracle can recompute; two lanes per digest).
    Band digests stay xxhash64 either way — they never leave the query,
    so only lane values must be engine-reproducible.

    Output: (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    return _minhash_lsh_sig_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        hash_fn=hash_fn,
    ).select("id_a", "id_b", "est_jaccard")


def _minhash_lsh_sig_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    hash_fn: str,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` body, keeping the signatures.

    Output: (id_a, id_b, est_jaccard, sig_a, sig_b).  Internal —
    :func:`bbit_minhash_report` re-slices the SAME lane values for its
    b-bit estimate instead of rebuilding candidate-sized signatures
    (the rebuild was a second corpus-semi-join job + an extra eager
    ``localCheckpoint``; the lanes were identical by construction).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    r = num_hashes // bands
    # Signature via explode + per-lane MIN aggregates instead of a
    # higher-order per-row signature expression: HOF lambdas evaluate
    # interpreted per element, while agg-input expressions and hash
    # aggregation stay in whole-stage codegen (~5× at bench scale).
    # Values are identical: lane i is min over shingles of
    # xxhash64(i, shingle) either way.  groupBy("id") reuses the
    # _spread partitioning — no extra shuffle.
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    # window-lead shingle stream — see ngram_jaccard_pairs: exploding a
    # computed shingle array re-inlines the token regex per position.
    # No distinct pass: duplicate shingles cannot change a per-lane MIN.
    ex = exploded_shingles(base, "id", text_col, n=n).withColumnRenamed(
        "sh", "s"
    )
    if hash_fn == "md5":
        # one md5 yields two 60-bit lanes (hex chars 1-15 and 16-30), so
        # num_hashes lanes cost num_hashes/2 md5 evaluations per shingle.
        # The digests are materialized in a projection BEFORE the agg so
        # each is computed exactly once (agg-input subexpression reuse
        # is not guaranteed).
        n_digests = (num_hashes + 1) // 2
        ex = ex.select(
            "id",
            *[
                F.md5(F.concat(F.lit(f"{g}:"), F.col("s"))).alias(f"_m{g}")
                for g in range(n_digests)
            ],
        )
        lanes = [
            F.min(
                F.conv(
                    F.substring(F.col(f"_m{i // 2}"), 1 + 15 * (i % 2), 15), 16, 10
                ).cast("long")
            ).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        lanes = [
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    sig = (
        ex.groupBy("id")
        .agg(*lanes)
        .select(
            "id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig")
        )
    )
    # materialize the (id, sig, band, digest) banding table once (r14):
    # the LSH self-join references it on BOTH sides — un-checkpointed,
    # the whole signature subtree (shingle stream + num_hashes/2 md5
    # digests + the per-lane MIN aggregate) was analyzed and executed
    # twice (two measured ~0.9 s 32-task stages at sf0.1 inside the
    # bbit report); bands·rows narrow state, the prefix-set precedent
    banded = sig.select(
        "id", "sig", F.explode(band_hashes(F.col("sig"), bands, r)).alias("bh")
    ).select(
        "id", "sig", F.col("bh.band").alias("band"), F.col("bh.digest").alias("digest")
    ).localCheckpoint()

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = signature_similarity(F.col("sig_a"), F.col("sig_b"))
    return cand.select(
        "id_a", "id_b", est.alias("est_jaccard"), "sig_a", "sig_b"
    ).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash near-dedup (Hamming distance, chunk-banded)
# ---------------------------------------------------------------------------


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs whose 64-bit SimHashes are within ``max_hamming`` bits.

    Pigeonhole banding: distance ≤ chunks-1 guarantees agreement on at
    least one of ``chunks`` bit-slices, so the self-join on (chunk,
    bits) finds every such pair without a cross join.  Requires
    ``max_hamming < chunks`` for completeness (the classic trade-off —
    raise ``chunks`` to loosen the radius).

    The 64 bit lanes are the two 32-bit md5-hex halves of one digest
    per token: every intermediate stays below 2³², so a DuckDB oracle
    recomputes identical bits.

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    if max_hamming >= chunks:
        raise ValueError(
            f"banding with {chunks} chunks only guarantees recall for "
            f"hamming < {chunks}; got max_hamming={max_hamming}"
        )
    # SimHash via explode + 64 per-lane SUM aggregates (same rationale
    # and same values as the minhash reformulation above: per-token bit
    # votes from the token hash, summed per lane, sign per bit).
    # Empty-token documents simply produce no exploded rows — the same
    # outcome as the previous filter(size > 0).
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    tok = base.select("id", F.explode(tokenize(F.col(text_col))).alias("t"))
    # The 64 per-lane vote aggregates and the 64-term sign fold are
    # authored as SQL text (r14 optimization — the TUNING.md >50-Columns
    # rule): the Column-by-Column build was ~400 py4j round trips and,
    # with the whole vote subtree duplicated under the banding
    # self-join, analysis alone cost a measured ~5.6 s driver gap at
    # sf0.1.  Same expression trees term-for-term (shiftright & 1,
    # ×2−1 int votes, left-assoc CASE fold, the b=63 negative-weight
    # two's-complement term), so hashes are unchanged — re-verified at
    # 3 scales.
    # materialize the digest once, then slice both 32-bit halves
    ex = tok.select("id", F.md5(F.col("t")).alias("_m")).select(
        "id",
        F.conv(F.substring("_m", 1, 8), 16, 10).cast("long").alias("h0"),
        F.conv(F.substring("_m", 9, 8), 16, 10).cast("long").alias("h1"),
    )
    votes = [
        f"sum((CAST((shiftright({'h0' if b < 32 else 'h1'}, {b % 32})"
        f" & 1) AS INT) * 2 - 1)) AS _v{b}"
        for b in range(64)
    ]
    bit_terms = [
        f"(CASE WHEN _v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(63)
    ] + [
        f"(CASE WHEN _v63 > 0 THEN CAST({-(1 << 63)} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
    ]
    sim_sql = "(" + " + ".join(bit_terms) + ")"
    hs = (
        ex.groupBy("id")
        .agg(*[F.expr(v) for v in votes])
        .selectExpr("id", f"{sim_sql} AS sim")
    )
    # materialize the (id, sim, chunk, bits) banding table once (r14):
    # the banding self-join references it on BOTH sides — without the
    # checkpoint the 64-aggregate subtree is analyzed (and, absent
    # exchange reuse, executed) twice; chunks·rows narrow state, the
    # prefix-set precedent
    chunked = hs.select(
        "id", "sim", F.explode(simhash_chunks(F.col("sim"), chunks)).alias("ck")
    ).select(
        "id", "sim", F.col("ck.chunk").alias("chunk"), F.col("ck.bits").alias("bits")
    ).localCheckpoint()
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a", "id_b", hamming64(F.col("sim_a"), F.col("sim_b")).alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dedup (blocked)
# ---------------------------------------------------------------------------


#: Cells of one block's similarity matrix held at once (32 MiB of
#: doubles): the per-block GEMM runs in row ranges of at most this many
#: cells, so no task materializes a block's full n×n matrix.
_COSINE_TILE_CELLS = 1 << 22


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Pairs of near-identical embeddings: cosine ≥ threshold.

    The one blocked cosine-pair kernel of the engine; semantic and
    two-stage dedup and the threshold histogram all build on it.  Rows
    are grouped on ``block_col`` (a cluster/partition id — at corpus
    scale the coarse IVF cell from k-means) and each block is paired
    in one pandas task; ``block_col=None`` puts every row in one block,
    the exact quadratic form for small inputs only.

    Inside a block a BLAS matrix product of the normalized vectors
    shortlists the pairs at ``threshold − 1e-9`` (far above BLAS
    rounding error at any practical width), taken in row tiles of at
    most ``_COSINE_TILE_CELLS`` cells.  Each survivor's cosine is then
    recomputed exactly and filtered at ``threshold``, with every sum
    folded from 0.0 in index order, as the engine's SQL folds and
    DuckDB's ``list_sum`` do:

    * ‖x‖² = Σ xⱼ², and nv = x / ‖x‖ (float32 input is widened first);
    * cos = Σ nv_aⱼ · nv_bⱼ.

    So each emitted double is bit-identical to the SQL fold's.

    Only vectors of equal width pair (the ``zip_with`` null-pad rule).
    ``dim`` narrows the pair space to vectors of exactly that width.
    A null, empty, null-element, NaN or zero-norm vector (one whose
    squared norm is not a positive finite double) never pairs.

    Output: (id_a, id_b, cosine) with id_a < id_b, ids of the input's
    id type.
    """
    return _cosine_pairs(df, id_col, vec_col, block_col, threshold, dim, None)


def _cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str | None,
    threshold: float,
    dim: int | None,
    block_out: str | None,
) -> DataFrame:
    """:func:`embedding_cosine_pairs`, with the block id also emitted
    as column ``block_out`` (before ``cosine``) unless it is None."""
    import numpy as np
    import pandas as pd

    blk = F.col(block_col) if block_col is not None else F.lit(0)
    base = df.select(
        F.col(id_col).alias("id"), blk.alias("blk"), F.col(vec_col).alias("v")
    ).where("id IS NOT NULL AND blk IS NOT NULL")
    shortlist = threshold - 1e-9

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        all_ids, vs = pdf["id"].to_numpy(), pdf["v"].to_numpy()
        widths = np.array([-1 if v is None else len(v) for v in vs])
        id_a, id_b, cos = [all_ids[:0]], [all_ids[:0]], [np.zeros(0)]
        for w in np.unique(widths):
            if w < 1 or (dim is not None and w != dim):
                continue
            sel = widths == w
            ids = all_ids[sel]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            m = np.stack(vs[sel][order]).astype(np.float64)
            # folds run column by column from 0.0 (np.sum and BLAS sum
            # in other orders); a null element arrives as NaN
            sq = np.zeros(len(ids))
            for j in range(w):
                sq = sq + m[:, j] * m[:, j]
            nrm = np.sqrt(sq)
            ok = np.isfinite(nrm) & (nrm > 0.0)
            ids, nv = ids[ok], m[ok] / nrm[ok, None]
            cols = nv.T.copy()
            n = len(ids)
            step = max(1, _COSINE_TILE_CELLS // max(n, 1))
            for r0 in range(0, n - 1, step):
                r1 = min(n, r0 + step)
                upper = np.arange(r0, r1)[:, None] < np.arange(r0, n)[None, :]
                ia, ib = np.nonzero((nv[r0:r1] @ nv[r0:].T >= shortlist) & upper)
                ia, ib = ia + r0, ib + r0
                distinct = ids[ia] != ids[ib]
                ia, ib = ia[distinct], ib[distinct]
                c = np.zeros(len(ia))
                for j in range(w):
                    c = c + cols[j][ia] * cols[j][ib]
                hit = c >= threshold
                id_a.append(ids[ia[hit]])
                id_b.append(ids[ib[hit]])
                cos.append(c[hit])
        out = {"id_a": np.concatenate(id_a), "id_b": np.concatenate(id_b)}
        if block_out is not None:
            out[block_out] = pdf["blk"].iloc[0]
        out["cosine"] = np.concatenate(cos)
        return pd.DataFrame(out)

    types = {f.name: f.dataType for f in base.schema}
    fields = [StructField("id_a", types["id"]), StructField("id_b", types["id"])]
    if block_out is not None:
        fields.append(StructField(block_out, types["blk"]))
    fields.append(StructField("cosine", DoubleType()))
    return base.groupBy("blk").applyInPandas(block_pairs, StructType(fields))


# Largest pair table (rows) that connected_components collects and
# union-finds on the driver; a larger one runs _cc_star on the
# executors.  docs/CC_DEPTH.md (scripts/cc_depth_bench.py, 4 vCPUs):
# at 10^6 edges union-find took 8.3 s on a chain and 6.9 s on a hub
# (star: 103 s and 19 s), with the driver Python peaking near 0.6 GB.
_LOCAL_CC_MAX_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "id",
    comp_col: str = "component_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph.

    Transitive closure for dedup: if A~B and B~C, all three belong to
    one duplicate group even when A~C was never emitted.

    Output: one row per node that appears in any pair —
    (``node_col``, ``comp_col``) with ``comp_col`` = min reachable id,
    both of the input id type.  A node whose only pair is a self-pair
    is its own root; a null id is one ``(null, null)`` row and
    connects nothing.

    The pair table is materialized once and its row count picks the
    engine.  Up to ``_LOCAL_CC_MAX_EDGES`` pairs are union-found on the
    driver: no rounds, whatever the graph depth (McSherry et al.,
    "Scalability! But at what COST?", HotOS 2015).  A larger table runs
    :func:`_cc_star` on the executors, which raises ``RuntimeError`` if
    it has not converged within ``max_iterations`` rounds.
    """
    p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # the checkpoint fills on its first read: the capped take, which
    # both counts the pairs and collects them in one job (above the
    # bound the taken rows are dropped)
    p = p.localCheckpoint(eager=False)
    rows = p.take(_LOCAL_CC_MAX_EDGES + 1)
    if len(rows) > _LOCAL_CC_MAX_EDGES:
        labels, _ = _cc_star(p, max_iterations)
    else:
        labels = _cc_union_find(p, rows)
    return labels.select(F.col("id").alias(node_col), F.col("comp").alias(comp_col))


def _cc_union_find(p: DataFrame, rows: list) -> DataFrame:
    """Union-find over ``rows``, the collected (src, dst) pairs of
    ``p``; returns labels(id, comp) with the min id of each component
    as its root (path halving; the smaller root always wins a union)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    # the union of both endpoint columns carries the widened id type
    id_type = p.select("src").union(p.select("dst")).schema[0].dataType
    schema = StructType([StructField("id", id_type), StructField("comp", id_type)])
    return p.sparkSession.createDataFrame(
        [(x, find(x)) for x in parent], schema, verifySchema=False
    )


def _cc_star(p: DataFrame, max_iterations: int) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) over (src, dst)
    pairs; returns (labels(id, comp), rounds).

    Per round (one round = large-star then small-star, each a
    groupBy-min + join on the node id):

    * large-star: for every node u with undirected neighborhood Γ(u),
      m = min(Γ(u) ∪ {u}); every LARGER neighbor v > u re-attaches as
      (v, m) — strictly-larger nodes hop toward the local minimum.
    * small-star: direct every edge large→small; for u with smaller
      neighbors N(u), m = min(N(u) ∪ {u}); emit (v, m) for
      v ∈ N(u) ∪ {u} \\ {m} — compresses the small side into a star.

    The edge set converges to min-rooted stars in O(log d) rounds on a
    graph of diameter d; labels read directly off the final edges.  A
    round whose distinct edge set has the same (count,
    Σxxhash64(u, v), Σxxhash64(v, u)) signature as the previous one is
    the fixpoint — one aggregate job per round that does no arithmetic
    on the ids, so any orderable id type works.  Raises
    ``RuntimeError`` if no fixpoint is confirmed within
    ``max_iterations`` rounds: the current labels would split
    components.
    """
    edges = p.filter(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).distinct().localCheckpoint()
    prev_sig = None
    for rounds in range(1, max_iterations + 1):
        # large-star over the undirected view
        bidir = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).union(
            edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        mins = bidir.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            bidir.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over large→small directed edges
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        attach = (
            large.join(sm, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges = (
            attach.union(sm.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")),
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "star rounds — the pair graph is deeper than expected; raise "
            "max_iterations"
        )
    roots = edges.select(F.col("v").alias("id")).distinct().join(
        edges.select(F.col("u").alias("id")).distinct(), "id", "left_anti"
    )
    labels = edges.select(
        F.col("u").alias("id"), F.col("v").alias("comp")
    ).union(roots.select("id", F.col("id").alias("comp")))
    # the src != dst pre-filter dropped nodes whose ONLY pair is a
    # self-pair (and null ids); the output contract ("one row per node
    # that appears in any pair") emits them as their own roots
    iso = (
        p.select(F.col("src").alias("id"))
        .union(p.select(F.col("dst").alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
    )
    labels = labels.union(iso.select("id", F.col("id").alias("comp")))
    return labels, rounds


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    ``n``-gram with a benchmark/eval set (the standard contamination
    rule — e.g. GPT-3's 13-gram and PaLM's 8-gram filters).

    Output: one row per contaminated document — (id, ``n_hits`` =
    number of distinct shared n-grams, ``sample_ngram`` = the
    lexicographically smallest shared n-gram as evidence).  Join the
    result back with a left-anti join to drop contaminated docs.

    Scale shape: the benchmark side (eval sets are MBs, not TBs) is
    reduced to DISTINCT shingles and broadcast — the 100 TB corpus is
    never shuffled; each task streams its scan through a replicated
    hash set.  The only exchange is the per-doc aggregation of
    *matching* rows, which is contamination-sized, not corpus-sized.
    Shingles are distinct per document (``ngram_shingles``), so
    ``n_hits`` counts distinct shared n-grams with no extra dedup pass.
    """
    bench_sh = (
        benchmark.select(
            F.explode(
                ngram_shingles(tokenize(F.col(text_col)), n)
            ).alias("sh")
        )
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(ngram_shingles(F.col("_toks"), n)).alias("sh"),
    )
    hits = doc_sh.join(F.broadcast(bench_sh), "sh")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("sh").alias("sample_ngram"),
    )


BLOOM_M = 1 << 16  # filter bits (8 KiB — broadcast as 1024 long literals)
BLOOM_K = 3  # hash lanes per shingle


def _bloom_lane_pos(j: int, col: Column, m: int) -> Column:
    """Lane ``j``'s bit position for a shingle: md5-hex chars
    ``[8j, 8j+8)`` as an integer, mod ``m``.  All ``k`` lanes slice ONE
    md5 evaluation per shingle (the minhash two-lanes-per-digest trick;
    codegen CSE merges the shared ``md5(col)`` subexpression — measured
    3.8× decontam's sweep cost with per-lane digests, ~1.6× with
    slices), and every slice is byte-identical in any engine with md5
    (the repo's standard replayable-hash construction).  The 32-hex
    digest supports k ≤ 4."""
    if not 0 <= j <= 3:
        raise ValueError(f"lane must be in [0, 3], got {j}")
    return (
        F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10).cast("long")
        % m
    )


def bloom_prefilter(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Bloom-filter contamination prefilter, with its false-positive
    rate MEASURED in the same pass.

    The scale story: :func:`benchmark_overlap` broadcasts the
    benchmark's distinct shingles — fine at eval-set size, but a
    multi-benchmark suite can reach GBs of shingles, past broadcast
    comfort.  The classic fix is a Bloom filter: ``m`` bits, ``k``
    md5-lane hashes per shingle, built once from the benchmark side
    (the bit positions are an aggregate BOUNDED BY ``m``, never by
    data — the only driver-side collect here is ≤ m rows) and shipped
    to every task as 1024 long literals (8 KiB in the plan).  The
    probe is pure codegen: each corpus shingle tests ``k`` bits via
    ``element_at`` + bitwise-AND against the literal word array — no
    UDF, no shuffle, one corpus scan.  Exact membership (a broadcast
    semi-join, the ground truth) runs beside it, so the output reports
    the filter's real FP rate instead of the textbook formula.

    Determinism: every lane is an md5 hex-slice (no xxhash — engines
    must replay it), so the SAME bits are set in any engine and the
    oracle can reproduce bloom hits bit-for-bit.

    Output, one row per ``group_col``: n_docs, n_shingles, bloom_hits,
    exact_hits, false_pos (= bloom − exact), fp_rate (= false_pos /
    clean shingles; NULL when no clean shingles).
    """
    bench_sh = (
        benchmark.select(
            F.explode(ngram_shingles(tokenize(F.col(text_col)), n)).alias(
                "sh"
            )
        )
        .distinct()
    )
    pos_rows = (
        bench_sh.select(
            F.explode(
                F.array(
                    *[_bloom_lane_pos(j, F.col("sh"), m) for j in range(k)]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    # The filter ships as ONE BinaryType literal: a single plan node
    # (1024 long literals made a tree with ~2.5 s per-session analysis
    # cost), and substring on BINARY is byte-positional O(1) — a
    # latin-1 STRING literal was measured 2× slower end-to-end because
    # UTF8String.substring must scan variable-width chars from the
    # start on every bit test.  Byte layout: byte[i] bit b (LSB-first)
    # == position 8·i + b.
    bits = bytearray((m + 7) // 8)
    for r in pos_rows:
        bits[r["pos"] // 8] |= 1 << (r["pos"] % 8)
    blob = F.lit(bytes(bits))
    pow2_8 = F.array(*[F.lit(1 << i) for i in range(8)])

    # _spread first (r14): a single-file corpus otherwise shingles and
    # bit-tests on ONE task (measured a 1.7 s single-task stage at
    # sf0.1); no-op at scale
    doc_sh = _spread(docs, id_col).select(
        F.col(id_col), F.col(group_col), tokenize(F.col(text_col)).alias("_t")
    ).select(
        id_col,
        group_col,
        F.explode(ngram_shingles(F.col("_t"), n)).alias("sh"),
    )

    import functools

    # Let-bind so each level of the chain evaluates ONCE per shingle
    # (stacked selects re-inline via projection collapse, and boolean
    # short-circuits block codegen CSE): the md5 digest binds via one
    # transform() lambda producing the k lane positions, and the
    # bit-test chain binds the positions array the same way.
    def _lane_positions(h: Column) -> Column:
        return F.array(
            *[
                F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("long")
                % m
                for j in range(k)
            ]
        )

    def _test_all(p: Column) -> Column:
        def test(j: int) -> Column:
            pos = F.element_at(p, j + 1)
            byte = F.conv(
                F.hex(
                    F.substring(blob, (pos / 8 + 1).cast("int"), F.lit(1))
                ),
                16,
                10,
            ).cast("long")
            mask = F.element_at(pow2_8, (pos % 8 + 1).cast("int"))
            return byte.bitwiseAND(mask) != 0

        return functools.reduce(
            lambda a, b: a & b, [test(j) for j in range(k)]
        )

    pos_arr = F.element_at(
        F.transform(F.array(F.md5(F.col("sh"))), _lane_positions), 1
    )
    all_bits = F.element_at(F.transform(F.array(pos_arr), _test_all), 1)
    flagged = doc_sh.withColumn("_bloom", all_bits).join(
        F.broadcast(bench_sh.withColumn("_exact", F.lit(True))), "sh", "left"
    )
    agg = flagged.groupBy(group_col).agg(
        F.countDistinct(id_col).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.col("_bloom").cast("long")).cast("long").alias("bloom_hits"),
        F.sum(F.col("_exact").isNotNull().cast("long"))
        .cast("long")
        .alias("exact_hits"),
    )
    clean = F.col("n_shingles") - F.col("exact_hits")
    fp = F.col("bloom_hits") - F.col("exact_hits")
    return agg.select(
        group_col,
        "n_docs",
        "n_shingles",
        "bloom_hits",
        "exact_hits",
        fp.alias("false_pos"),
        F.when(clean > 0, F.round(fp / clean.cast("double"), 6)).alias(
            "fp_rate"
        ),
    )


def bbit_minhash_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    b: int = 2,
) -> DataFrame:
    """b-bit MinHash (Li & König, WWW'10) measured against the full
    sketch AND the exact truth, in one report.

    Storing only the lowest ``b`` bits of each minhash lane shrinks the
    sketch 64/b× (b=2: a 16-lane signature fits in 4 bytes) at the cost
    of accidental collisions; the unbiased estimator corrects them:
    Ĵ_b = (match_rate − 2⁻ᵇ) / (1 − 2⁻ᵇ).  At 100 TB the sketch column
    IS the dedup index's storage bill, so this is the "what does 16×
    compression cost in MAE" report — read it next to
    :func:`minhash_calibration` before sizing signatures.

    Physics mirrors the calibration operator: candidates are every
    band-collision pair at the structural minimum threshold, and the
    b-bit estimate re-slices the SAME md5 lane values the LSH pass
    already computed (the signatures ride along on the pair rows —
    no candidate-sized signature rebuild, no second eager checkpoint);
    only the exact-Jaccard side re-shingles, candidate-sized, after a
    broadcast semi-join, so the corpus is scanned exactly twice (once
    for the sketch, once for the candidate shingles) and never
    shuffled twice.  Lanes are md5 hex-slices (engine-replayable: the
    whole point is an oracle-checkable estimator study).

    Output per full-estimate bucket: (est_jaccard, n_pairs, avg_exact,
    mae_full, avg_bbit, mae_bbit) — 6-decimal DECIMAL-summed means.
    """
    if not 1 <= b <= 16:
        raise ValueError(f"b must be in [1, 16], got {b}")
    from flink_kmeans_clustering_spark.functions.text import (
        ngram_shingles,
        tokenize,
    )

    modulus = 1 << b
    collision = 1.0 / modulus
    # ONE eager materialization: the pair list WITH both signatures.
    # Everything downstream (ids for the semi-join, the b-bit slices,
    # the full-sketch estimate) reads these rows — the LSH pass runs
    # exactly once and no signature is ever rebuilt.
    cand = _minhash_lsh_sig_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=1.0 / num_hashes,
        hash_fn="md5",
    ).localCheckpoint()
    cand_ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .union(cand.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    needed = docs.join(
        F.broadcast(cand_ids), docs[id_col] == F.col("_cid"), "left_semi"
    )
    # candidate-sized shingle sets for the exact side only (signatures
    # already ride on cand).  Broadcast onto the pair rows twice — the
    # shingle table is candidate-sized by construction, and the two
    # broadcast builds are cheaper than the eager checkpoint they
    # replace.  _spread first (r14): the semi-join output inherits the
    # corpus scan's partitioning, so a single-file corpus otherwise
    # re-shingles on ONE task per broadcast build (measured 0.65 s
    # single-task stages at sf0.1); no-op at scale.
    sh = _spread(needed, id_col).select(
        F.col(id_col).alias("_id"),
        ngram_shingles(tokenize(F.col(text_col)), n).alias("_sh"),
    )
    with_a = cand.join(
        F.broadcast(sh.select(F.col("_id"), F.col("_sh").alias("sh_a"))),
        F.col("_id") == F.col("id_a"),
    ).drop("_id")
    with_ab = with_a.join(
        F.broadcast(sh.select(F.col("_id"), F.col("_sh").alias("sh_b"))),
        F.col("_id") == F.col("id_b"),
    ).drop("_id")
    match_b = F.size(
        F.filter(
            F.zip_with(
                "sig_a",
                "sig_b",
                lambda x, y: (x % modulus) == (y % modulus),
            ),
            lambda v: v,
        )
    )
    est_bbit = F.round(
        (match_b.cast("double") / num_hashes - collision)
        / (1.0 - collision),
        6,
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    exact = F.round(inter.cast("double") / union, 6)
    scored = with_ab.filter(union > 0).select(
        "est_jaccard",
        est_bbit.alias("_eb"),
        exact.alias("_exact"),
        F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("_ef"),
        F.round(F.abs(est_bbit - exact), 6).alias("_ebe"),
    )
    cnt = F.count(F.lit(1))

    def _dmean(col: str):
        return F.round(
            F.sum(F.col(col).cast("decimal(20,6)")).cast("double") / cnt, 6
        )

    return scored.groupBy("est_jaccard").agg(
        cnt.alias("n_pairs"),
        _dmean("_exact").alias("avg_exact"),
        _dmean("_ef").alias("mae_full"),
        _dmean("_eb").alias("avg_bbit"),
        _dmean("_ebe").alias("mae_bbit"),
    )


def cross_source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many NORMALIZED-exact duplicate documents the two sources share —
    the measurement a mixture builder runs before weighting corpora
    (two crawls that are 40% the same corpus should not be sampled as
    independent; CCNet/RefinedWeb-style pipelines dedup ACROSS dumps
    for exactly this reason).

    The key is the md5 of the :func:`~flink_kmeans_clustering_spark.
    operators.textstats.clean_text` normalization (lowercase, control
    chars stripped, whitespace collapsed) — same digest the corpus
    cleaning pass already computes, so at scale this reads a
    precomputed column instead of re-hashing.

    One corpus-wide shuffle total: distinct (source, digest) pairs
    aggregate to digest → sorted source-set (map-side combine; set
    size bounded by #sources, not corpus), then pairs explode from
    each multi-source set (≤ sources² rows per digest) and reduce to
    the bounded sources×sources matrix — there is NO digest self-join
    (which would shuffle the corpus twice and square the hot digests).

    Output per unordered pair (source_a < source_b): n_a / n_b =
    distinct digests per source, n_shared, jaccard = shared /
    (n_a + n_b − shared), rounded 6.
    """
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[\p{Cntrl}]", " "),
            r"\s+",
            " ",
        )
    )
    fps = docs.select(
        F.col(group_col), F.md5(cleaned).alias("_fp")
    ).distinct()
    sizes = fps.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    srcsets = (
        fps.groupBy("_fp")
        .agg(F.sort_array(F.collect_set(group_col)).alias("_srcs"))
        .filter(F.size("_srcs") > 1)
    )
    shared = (
        srcsets.select(F.explode("_srcs").alias("source_a"), "_srcs")
        .select("source_a", F.explode("_srcs").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    a = sizes.select(
        F.col(group_col).alias("source_a"), F.col("_n").alias("n_a")
    )
    b = sizes.select(
        F.col(group_col).alias("source_b"), F.col("_n").alias("n_b")
    )
    spine = a.crossJoin(F.broadcast(b)).filter(
        F.col("source_a") < F.col("source_b")
    )
    ns = F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
    return spine.join(shared, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        ns.alias("n_shared"),
        F.round(
            ns / (F.col("n_a") + F.col("n_b") - ns).cast("double"), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup: k-means-style blocking + within-block cosine pairs
# ---------------------------------------------------------------------------


#: seed-count cutoff between the literal-projection assignment (seeds
#: inlined into the plan; zero shuffles) and the distributed
#: broadcast-join + struct-max form.  128 seeds × ~64 doubles is a few
#: KB of plan references — far below literal-plan pain; beyond that the
#: trained-cell/broadcast form is the right physics anyway.
SEMANTIC_LITERAL_SEED_MAX = 128


def semantic_blocks(
    df: DataFrame,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_block_size: int = 4096,
) -> DataFrame:
    """Assign every vector to its nearest of ``k`` seed vectors by
    cosine — deterministic coarse clustering for dedup blocking.

    ``k=None`` (default) derives the seed count from the corpus:
    ``k = max(8, ceil(N / target_block_size))``, so the EXPECTED block
    is ≤ ``target_block_size`` vectors and the within-block all-pairs
    stage is bounded at ~``target²/2`` dots per block regardless of
    corpus size — the property that keeps the downstream quadratic
    stage flat at 100 TB (a fixed small k would leave blocks growing
    as N/k and the pair stage as N²/k).  The sizing count is one
    scan.  At real corpus scale the seeds
    would come from trained k-means cells (``kmeans.lloyd_nd``, as
    ``q_ann_trained`` trains them); the assignment plan is identical either way — k seed rows against the
    scan, one argmax per row, no shuffle of the corpus.

    The seeds are the vectors with the ``k`` smallest ids — selected
    by ``orderBy(id).limit(k)`` (a TakeOrdered, k rows), which is
    correct for sparse / non-contiguous ids too (a ``id < k`` filter
    would silently under-seed).  This mirrors the fixed given-centroid
    role of KMeans.java:148's initial centroids.

    Ties break to the lowest seed id on the cosine ROUNDED to 6 places
    (the struct-max trick: max over (cos, -seed_id) lexicographic), so
    an oracle recomputing the same rounded values assigns identically.
    Vectors are unit-normalized by ``functions.vector.l2_normalize_sql``
    and a cosine to a seed is their ``dot_sql``: folds from 0.0 in
    index order.  Null, empty, null-element, NaN and zero-norm vectors
    have no unit vector and are dropped before seeding (the same rule
    as :func:`embedding_cosine_pairs`).

    Output: (id, v, nv, blk) — id, the vector as ``array<double>``,
    its L2-normalized form, block id (the seed's id, in the id column's
    type).  :func:`semantic_dedup_pairs` scores pairs on ``v``.
    """
    # nv is a unit vector, so its cosine to a seed is the dot of the two
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .selectExpr("id", "v", f"{l2_normalize_sql('v')} AS nv")
        .where("nv IS NOT NULL")
    )
    if k is None:
        n = base.count()
        k = max(8, -(-n // target_block_size))
    # a block id is its seed's id, in the id's own type: a narrower
    # cast would overflow (or, with ANSI off, merge seeds 2^32 apart)
    id_type = base.schema["id"].dataType.simpleString()

    if k <= SEMANTIC_LITERAL_SEED_MAX:
        # Small seed set → the k-means-assignment shape (see
        # kmeans.assign_points): seeds are collected once (TakeOrdered,
        # k rows) and entered as LITERAL vectors, so assignment is a
        # single narrow projection — argmax over k fold-dots per row,
        # zero joins, zero shuffles.  The collected nv values are the
        # engine's own fold results and repr() round-trips each double,
        # so every cosine is bit-identical to the join form.  The
        # expression is one SQL string: built Column by Column it is
        # ~1,500 py4j calls at d=64, k=8.
        seed_rows = base.orderBy("id").limit(k).select("id", "nv").collect()
        cands = ", ".join(
            f"named_struct('c', round({dot_sql('nv', array_lit_sql(r['nv']))}, 6),"
            f" 'neg', CAST({-int(r['id'])} AS BIGINT))"
            for r in seed_rows
        )
        return base.selectExpr(
            "id", "v", "nv", f"CAST(-(array_max(array({cands})).neg) AS {id_type}) AS blk"
        )
    # Large-k scale path (trained-cell regimes): seeds stay distributed,
    # broadcast-joined against the scan; argmax via struct-max groupBy.
    seeds = base.orderBy("id").limit(k).selectExpr("id AS seed_id", "nv AS sv")
    best = (
        base.join(F.broadcast(seeds))
        .selectExpr(
            "id",
            f"named_struct('c', round({dot_sql('nv', 'sv')}, 6),"
            " 'neg', CAST(-seed_id AS BIGINT)) AS s",
        )
        .groupBy("id")
        .agg(F.max("s").alias("m"))
    )
    assigned = best.select("id", (-F.col("m.neg")).cast(id_type).alias("blk"))
    return base.join(assigned, "id")


def semantic_dedup_pairs(
    df: DataFrame,
    k: int | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    target_block_size: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs within computed semantic blocks.

    The pipeline composition a 100 TB corpus dedup actually runs:
    coarse clustering confines the quadratic pair work to blocks
    (expected block ≤ ``target_block_size`` under the default
    ``k=None`` sizing — see :func:`semantic_blocks` — so per-block
    pair work stays bounded as the corpus grows), then the exact
    cosine test runs only inside blocks, through the one blocked
    kernel :func:`embedding_cosine_pairs`.  Contrast with calling that
    kernel directly on a pre-existing label column — here the blocking
    itself is derived from the data.

    ``dim``: only vectors of exactly this width are seeded, blocked and
    paired.

    Output: (id_a, id_b, block, cosine) with id_a < id_b, cosine
    rounded to 6 places.
    """
    if dim is not None:
        df = df.where(F.size(F.col(vec_col)) == dim)
    blocks = semantic_blocks(df, k, id_col, vec_col, target_block_size)
    return _cosine_pairs(blocks, "id", "v", "blk", threshold, None, "block").select(
        "id_a", "id_b", "block", F.round("cosine", 6).alias("cosine")
    )


def two_stage_dedup_pairs(
    docs: DataFrame,
    emb: DataFrame,
    cosine_threshold: float = 0.3,
    jaccard_threshold: float = 0.05,
    n: int = 3,
    block_col: str | None = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Cheap-filter → expensive-verify dedup: embedding-cosine candidate
    pairs confirmed by exact n-gram Jaccard on the documents' text.

    The production two-stage shape: stage 1 (blocked vector cosine,
    one call to :func:`embedding_cosine_pairs` on ``block_col``, or
    unblocked when it is None) prunes the O(n²) space down to a
    candidate list orders of magnitude smaller than the corpus; stage 2
    re-joins only those pairs to the text — the candidate side is
    BROADCAST into both text lookups, so the corpus-sized ``docs``
    table is never shuffled.  Verification is exact set Jaccard over
    word shingles (``array_intersect`` / ``array_union`` — integer
    sizes, engine-exact division).

    Output: (id_a, id_b, cosine, jaccard) for pairs passing BOTH
    thresholds, id_a < id_b, both rounded to 6 places.
    """
    from flink_kmeans_clustering_spark.functions.text import (
        ngram_shingles,
        tokenize,
    )

    cand = embedding_cosine_pairs(
        emb,
        id_col=vec_id_col,
        vec_col=vec_col,
        block_col=block_col,
        threshold=cosine_threshold,
        dim=dim,
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))

    # The shortlist feeds FOUR downstream references (two id-projection
    # union branches and the broadcast into the pair join); without a
    # materialization each reference re-executes the whole candidate
    # DAG — Arrow pair stage included.  localCheckpoint computes it
    # once and truncates lineage; the shortlist is candidate-sized
    # (<< corpus) by construction, so executor-local storage is cheap
    # at any scale.
    cand = cand.localCheckpoint()
    # Shingle arrays only for documents that appear in a candidate pair:
    # a broadcast semi join narrows the corpus BEFORE the (interpreted)
    # shingle HOF runs — at scale candidates << corpus, so the verify
    # stage's text work is candidate-sized, and the corpus is still
    # never shuffled.  (Docs with zero candidates need no shingles by
    # construction.)
    cand_ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .union(cand.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    needed = docs.join(
        F.broadcast(cand_ids), docs[id_col] == F.col("_cid"), "left_semi"
    )
    # _spread first (r14): the semi-join output inherits the corpus
    # scan's partitioning, so a single-file corpus otherwise shingles
    # on ONE task (measured a 1.9 s single-task checkpoint stage at
    # sf0.1); no-op at scale
    sh = _spread(needed, id_col).select(
        F.col(id_col).alias("_id"),
        ngram_shingles(tokenize(F.col(text_col)), n).alias("_sh"),
    )
    # referenced by BOTH pair-side joins below; the tokenize+shingle
    # HOFs are the most expensive interpreted work in the query, so
    # compute them once (candidate-sized rows, same argument as cand)
    sh = sh.localCheckpoint()
    with_a = (
        sh.join(F.broadcast(cand), F.col("_id") == F.col("id_a"))
        .drop("_id")
        .withColumnRenamed("_sh", "sh_a")
    )
    with_ab = (
        sh.join(F.broadcast(with_a), F.col("_id") == F.col("id_b"))
        .drop("_id")
        .withColumnRenamed("_sh", "sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union
    return (
        with_ab.filter((union > 0) & (jac >= jaccard_threshold))
        .select(
            "id_a", "id_b", "cosine", F.round(jac, 6).alias("jaccard")
        )
    )


def keep_best_per_group(
    df: DataFrame,
    group_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-representative selection: per group, the row with the
    highest score (lowest id on ties).

    The keep-one-per-duplicate-group step of a dedup pipeline, done as
    a single hash aggregate over a (score, -id) struct max — one
    shuffle, no per-group sort, no window buffering an unbounded group
    in memory (the row_number() formulation materializes whole groups;
    this stays O(1) state per group).

    Output: (group, id, score) of each group's keeper.
    """
    m = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.max(
            F.struct(
                F.col(score_col).alias("sc"),
                (-F.col(id_col)).alias("neg"),
            )
        ).alias("m")
    )
    return m.select(
        F.col("grp").alias(group_col),
        (-F.col("m.neg")).alias(id_col),
        F.col("m.sc").alias(score_col),
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) deduplication
# ---------------------------------------------------------------------------


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """Near-duplicate pairs by Levenshtein distance over the DISTINCT
    value domain, with blocking.

    Classic record-linkage shape for short strings (names, titles,
    SKUs).  Two scale decisions:

    * Dedup the VALUE DOMAIN, not the rows — a min-id aggregate first
      collapses each distinct string to one representative (row count
      drops from corpus-scale to vocabulary-scale; a raw self-join
      over rows explodes quadratically in every duplicated value:
      measured 790k pairs over 20k rows vs 24 pairs over the 64
      distinct names in the same data).
    * Candidates limited to a BLOCK — the last whitespace token (for
      "color noun" names the noun carries the entity; a real pipeline
      picks phonetic keys or q-gram buckets the same way), so the
      remaining quadratic term is bounded by the largest block, not
      the vocabulary.

    ``levenshtein`` runs JVM-side, ``name_a < name_b`` halves the pair
    space, and the distance cap filters in the same join stage.

    Output: (id_a, id_b, name_a, name_b, distance) where the ids are
    each name's minimum ``id_col`` (deterministic representative),
    distance ≤ ``max_distance``.
    """
    reps = df.groupBy(F.col(name_col).alias("_nm")).agg(
        F.min(id_col).alias("_rep")
    )
    block = F.element_at(F.split(F.col("_nm"), " "), -1)
    left = reps.select(
        F.col("_rep").alias("id_a"),
        F.col("_nm").alias("name_a"),
        block.alias("_blk"),
    )
    right = reps.select(
        F.col("_rep").alias("id_b"),
        F.col("_nm").alias("name_b"),
        block.alias("_blk"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        left.join(right, "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("id_a", "id_b", "name_a", "name_b", dist.alias("distance"))
        .filter(F.col("distance") <= max_distance)
    )


def dedup_corpus(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    comp_col: str = "component_id",
) -> DataFrame:
    """The end product of the near-dup pipeline: the corpus with every
    duplicate group collapsed to its min-id representative.

    A doc survives iff it touches no near-dup pair (no component row)
    or it IS its component's representative.  The components table is
    pair-graph-sized (<< corpus), so the left join broadcasts it and
    the corpus is scanned once, never shuffled — the same "corpus is
    the big side" discipline as the pair generators upstream.
    """
    comp = components.select(
        F.col(id_col).alias("_cid"), F.col(comp_col).alias("_rep")
    )
    return (
        docs.join(F.broadcast(comp), docs[id_col] == F.col("_cid"), "left")
        .filter(F.col("_rep").isNull() | (F.col("_rep") == docs[id_col]))
        .drop("_cid", "_rep")
    )


def _prefix_candidates(
    prefix: DataFrame,
    threshold: float,
    length_filter: bool = True,
    positional_filter: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from prefix rows (id, sh, sz, _pos)
    via self equi-join on the shared prefix shingle, with PPJoin's
    length and positional filters (each independently toggleable so
    tests can measure the cut).

    The positional filter runs twice.  Per-match (join condition, cuts
    shuffle input): overlap ≤ min(p_a,p_b) + min(sz_a−p_a, sz_b−p_b),
    valid at EVERY shared position of a true pair.  Per-pair
    (first-match, replaces the bare distinct with the same-shuffle
    min-struct agg): because a prefix is the FIRST L positions of the
    global rarest-first order, "in prefix" is downward-closed — any
    shared token ordered before a prefix∩prefix match has strictly
    smaller positions in both rings, hence is itself a match row.  So
    the min-(p_a,p_b) match row IS the pair's globally first shared
    token, no shared token precedes it, and the tight PPJoin bound
    overlap ≤ 1 + min(sz_a−p_a, sz_b−p_b) applies safely there.
    """
    # The 1e-9 slack keeps fp ceil() from landing one above the exact
    # rational bound (which would prune a TRUE pair); one-too-low only
    # admits an extra candidate the exact verify step rejects anyway.
    t = threshold
    cond = (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
    if length_filter:
        # min_sz >= ceil(t * max_sz), written symmetrically
        cond = (
            cond
            & (F.col("b.sz") >= F.ceil(F.lit(t) * F.col("a.sz") - 1e-9))
            & (F.col("a.sz") >= F.ceil(F.lit(t) * F.col("b.sz") - 1e-9))
        )
    if positional_filter:
        alpha_m = F.ceil(
            F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")) - 1e-9
        )
        loose = F.least(F.col("a._pos"), F.col("b._pos")) - 1 + F.least(
            F.col("a.sz") - F.col("a._pos") + 1,
            F.col("b.sz") - F.col("b._pos") + 1,
        )
        cond = cond & (loose >= alpha_m)
    matches = (
        prefix.alias("a")
        .join(prefix.alias("b"), cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
            F.col("a._pos").alias("pos_a"),
            F.col("b._pos").alias("pos_b"),
        )
    )
    if not positional_filter:
        return matches.select("id_a", "id_b").distinct()
    first = matches.groupBy("id_a", "id_b").agg(
        F.min(F.struct("pos_a", "pos_b")).alias("_fm"),
        F.first("sz_a").alias("sz_a"),
        F.first("sz_b").alias("sz_b"),
    )
    alpha_p = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")) - 1e-9
    )
    tight = 1 + F.least(
        F.col("sz_a") - F.col("_fm.pos_a"), F.col("sz_b") - F.col("_fm.pos_b")
    )
    return first.filter(tight >= alpha_p).select("id_a", "id_b")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): the third point in the ngram-join design space.
    ``ngram_jaccard_pairs`` trades exactness for safety (df-capped) or
    safety for exactness (uncapped, quadratic under a hot shingle);
    prefix filtering gives BOTH — exact results with candidate work
    bounded by RARE shingles.

    With shingles globally ordered rarest-first (df asc, shingle asc),
    any pair with Jaccard ≥ t must share a shingle inside both docs'
    prefixes of length ``|S| − ⌈t·|S|⌉ + 1`` (if all shared shingles
    sat in A's suffix, the suffix's ⌈t|A|⌉ − 1 slots couldn't hold the
    ≥ ⌈t|A|⌉ intersection a qualifying pair needs).  So the candidate
    join touches only prefix rows — the ubiquitous shingle that makes
    the uncapped join quadratic lands at the END of the global order
    and never enters a prefix unless a document consists of almost
    nothing else.

    Two further PPJoin cuts (Xiao et al. WWW'08 §3) ride the candidate
    join as pure column predicates — no new shuffles:

    * LENGTH filter: J(A,B) ≥ t forces t·(|A|+|B|) ≤ (1+t)·|A∩B| ≤
      (1+t)·min(|A|,|B|), i.e. ``min_sz ≥ ⌈t·max_sz⌉`` — both
      ``sz_b ≥ ⌈t·sz_a⌉`` and ``sz_a ≥ ⌈t·sz_b⌉`` go straight into the
      join condition, pruning cross-size candidates before any
      ``array_intersect``.
    * POSITIONAL filter: for a shared prefix token at (global-order)
      positions p_a, p_b, every shared token either precedes it in BOTH
      rings (≤ min(p_a,p_b) − 1 of those) or is it / follows it
      (≤ 1 + min(sz_a−p_a, sz_b−p_b)); so overlap ≤ min(p_a,p_b) +
      min(sz_a−p_a, sz_b−p_b).  A qualifying pair needs overlap ≥
      α = ⌈t/(1+t)·(sz_a+sz_b)⌉, and the bound holds at EVERY shared
      position, so rows where it dips below α are safely dropped before
      the pair-distinct (a pair survives iff some match passes —
      a superset of PPJoin's scan-order candidates, never a miss).

    Stages (shuffles): df counts (1, vocab-sized), per-doc rank window
    (1, by id — reuses the spread partitioning), candidate equi-join on
    prefix shingles (1), per-doc set assembly + verification joins.
    Verification computes the exact integer intersection per CANDIDATE
    via ``array_intersect`` over the two docs' (doc-bounded) shingle
    arrays — work proportional to candidates, never to the corpus².

    Output: (id_a, id_b, jaccard), identical to the uncapped form.
    """
    from pyspark.sql import Window

    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    # Per-doc shingle SETS, materialized ONCE: every later stage (df
    # counts, prefixes, verification) derives from the checkpoint
    # instead of re-running tokenization per consumer (measured 3× ≈
    # 9-10 s at sf0.1 for a ~3.5 s job; the TUNING.md DAG-re-evaluation
    # rule).  Built through the exploded-shingle stream + collect_set —
    # NOT the row-local ngram_shingles() HOF, whose per-position
    # interpreted lambda measured 4.6× slower over the corpus (1.06 vs
    # 4.88 s warm at sf0.1; TUNING.md's per-element-lambda rule).  One
    # row per document: the standard persist-the-projection trade of
    # every multi-pass set-similarity join — O(corpus tokens)
    # disk-backed state at cluster scale, never O(corpus²).
    ex = exploded_shingles(base, "id", text_col, n=n, with_size=True)
    # 64-bit shingle identity from here on: df counts, prefix ranking,
    # the candidate join and the verify intersection all run on longs
    # instead of ~n-word strings (with the PPJoin filters, 7.5 → 2.5 s
    # warm at sf0.1 — integer array_intersect + 8-byte shuffle rows).
    # sz stays the
    # exact distinct-STRING count.  An xxhash64 collision would merge
    # two shingles corpus-wide (P ≈ V²/2⁶⁵ for V distinct shingles —
    # ~1e-10 at test scale, still < 1e-4 per-pair-affected at 10¹²
    # shingles), nudging one intersection count by 1; the same
    # identity-hash trade every production MinHash/shingle pipeline
    # makes.
    ex = ex.select("id", "sz", F.xxhash64("sh").alias("sh"))
    sets = (
        ex.groupBy("id")
        .agg(F.collect_set("sh").alias("shs"), F.first("sz").alias("sz"))
        .localCheckpoint()
    )
    exs = sets.select("id", "sz", F.explode("shs").alias("sh"))
    dfreq = exs.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    ranked = exs.join(dfreq, "sh")
    w = Window.partitionBy("id").orderBy("_df", "sh")
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = (
        ranked.withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= prefix_len)
        .select("id", "sh", "sz", "_pos")
        .localCheckpoint()  # prefix rows: two consumers of a small set
    )
    cands = _prefix_candidates(prefix, threshold)
    joined = (
        cands.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("shs").alias("_shs_a"),
                F.col("sz").alias("_sz_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("shs").alias("_shs_b"),
                F.col("sz").alias("_sz_b"),
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("_shs_a", "_shs_b"))
    jac = inter / (F.col("_sz_a") + F.col("_sz_b") - inter)
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style soft dedup: weight 1/|near-dup cluster| per doc.

    Hard dedup throws away all but one member of each duplicate
    cluster; soft dedup keeps every member but scales its training
    weight so the CLUSTER contributes unit mass — the re-weighting
    variant (Abbas et al., SemDeDup, 2023 §4 discuss both) that
    preserves paraphrase coverage while killing over-representation.

    Scale shape: components exist only for docs that appear in a pair
    (a small fraction of the corpus by construction of the capped pair
    generator), so the (doc → cluster size) map BROADCASTS back; the
    corpus itself is scanned once and never shuffled.  Singletons
    (no pair) get cluster_size 1 / weight 1.

    Output: one row per document — (id, cluster_size, weight).
    """
    cc = connected_components(pairs, id_a=id_a, id_b=id_b, node_col=id_col)
    sizes = cc.groupBy("component_id").agg(F.count(F.lit(1)).alias("_csize"))
    comp = cc.join(F.broadcast(sizes), "component_id").select(id_col, "_csize")
    csize = F.coalesce(F.col("_csize"), F.lit(1).cast("long"))
    return (
        docs.select(id_col)
        .join(F.broadcast(comp), id_col, "left")
        .select(
            id_col,
            csize.alias("cluster_size"),
            F.round(F.lit(1.0) / csize, round_to).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (the CommonCrawl-style first dedup pass)
# ---------------------------------------------------------------------------

URL_DUP_MOD = 101  # synthesized URL collision space: docs sharing
                   # (source, doc_id % URL_DUP_MOD) are URL duplicates


def synthesize_urls(
    docs: DataFrame, id_col: str = "doc_id", source_col: str = "source"
) -> DataFrame:
    """Deterministic MESSY URL per document — the URL-plumbing twin of
    multimodal.synthesize_assets: the corpus has no URL column, so one
    is derived from (doc_id, source) with md5-lane-driven mess (scheme/
    host case, default ports, trailing slash, shuffled query params, a
    tracking param, a fragment) such that documents sharing
    ``(source, doc_id % URL_DUP_MOD)`` canonicalize to the SAME URL.
    Every expression replays identically in DuckDB (md5 hex lanes,
    exact power-of-two floor divisions).

    Output: input columns + ``url``.
    """
    h = F.md5(F.col(id_col).cast("string"))
    lane = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")

    def bit(k: int):
        return (F.floor(lane / F.lit(float(2**k))).cast("long") % 2) == 1

    base = F.col(id_col) % URL_DUP_MOD
    # host shard derives from base (not source): the dup key is base
    # alone, so every scale factor yields real duplicate groups for the
    # oracle gate (source-qualified hosts left one group per ~20× more
    # key space and an empty — vacuous — result at sf0.01)
    host = F.concat(
        F.lit("shard-"), (base % 7).cast("string"), F.lit(".example.com")
    )
    # the scheme is part of the canonical identity, so it must depend
    # only on the dup key (base), NOT the per-doc lane — only the MESS
    # (case, ports, order, tracking, fragment) varies per doc
    https = (base % 2) == 1
    scheme_l = F.when(https, F.lit("https")).otherwise(F.lit("http"))
    scheme = F.when(bit(1), F.upper(scheme_l)).otherwise(scheme_l)
    host_messy = F.when(bit(2), F.upper(host)).otherwise(host)
    port = F.when(
        bit(3), F.when(https, F.lit(":443")).otherwise(F.lit(":80"))
    ).otherwise(F.lit(""))
    path = F.concat(F.lit("/docs/"), base.cast("string"))
    path_messy = F.when(bit(4), F.concat(path, F.lit("/"))).otherwise(path)
    pa = F.concat(F.lit("a="), (base % 3).cast("string"))
    pb = F.concat(F.lit("b="), (base % 5).cast("string"))
    params = F.when(
        bit(5), F.concat(pb, F.lit("&"), pa)
    ).otherwise(F.concat(pa, F.lit("&"), pb))
    params = F.when(
        bit(6), F.concat(params, F.lit("&utm_source=feed"))
    ).otherwise(params)
    frag = F.concat(F.lit("#sec-"), (lane % 5).cast("string"))
    url = F.concat(
        scheme, F.lit("://"), host_messy, port, path_messy,
        F.lit("?"), params, frag,
    )
    return docs.withColumn("url", url)


URL_TRACKING_PREFIXES = ("utm_", "ref=", "fbclid=", "gclid=")


def url_canonicalize(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """Canonical URL: lowercase scheme+host, default ports stripped
    (80/http, 443/https), fragment dropped, trailing path slashes
    trimmed, query params filtered of tracking keys
    (:data:`URL_TRACKING_PREFIXES`) and SORTED — the normalization
    CommonCrawl-style pipelines run before exact URL dedup, so
    `?b=2&a=1#x` and `?a=1&b=2` collapse.

    Pure in-scan expressions (regexp + array HOFs), zero shuffle, and
    every step has an exact DuckDB twin (q_dedup_url's oracle).
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""),
        r"#.*$", "",
    )
    hostport = F.regexp_extract(rest, r"^([^/?]+)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]+)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    pathq = F.regexp_replace(rest, r"^[^/?]+", "")
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)

    def not_tracking(p):
        cond = p != ""
        for t in URL_TRACKING_PREFIXES:
            cond = cond & ~p.startswith(t)
        return cond

    params = F.array_sort(F.filter(F.split(query, "&"), not_tracking))
    canon_q = F.concat_ws("&", params)
    canon = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(F.lit("")),
    )
    return df.withColumn(out_col, canon)


def url_duplicate_groups(
    docs_with_urls: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Exact dedup on the CANONICAL URL: one row per canonical URL with
    more than one document — (canonical_url, n_dups, keep_id = min id,
    dup_id_sum checksum).  One hash aggregate on the canonical key
    (map-side combined); at 100 TB this is the cheapest dedup pass a
    web corpus gets, which is why it runs first."""
    canon = url_canonicalize(docs_with_urls, url_col=url_col)
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sum(id_col).cast("long").alias("dup_id_sum"),
        )
        .filter(F.col("n_dups") > 1)
    )


def prefix_fingerprint(text: Column, n_tokens: int = 16) -> Column:
    """md5 of the first ``n_tokens`` normalized tokens — the cheap
    prefix fingerprint used as the exact-match key for incremental
    ingest dedup (template/boilerplate families share prefixes; a
    full-content hash misses every near-dup, a prefix hash catches the
    re-crawled/templated ones at hash-join cost)."""
    return F.md5(F.concat_ws(" ", F.slice(tokenize(text), 1, n_tokens)))


def incremental_exact_dedup(
    corpus: DataFrame,
    new_batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_col: Column | None = None,
) -> DataFrame:
    """Incremental exact dedup: which NEW documents already exist in
    the corpus — the daily-increment shape of a production ingest (the
    full-corpus pass ran once; every later drop only checks itself).

    Scale physics: the CORPUS side is scanned once and never shuffled —
    the new batch (small by contract: one day's drop vs the whole
    corpus) is hashed and BROADCAST into the corpus scan; the match
    set that comes back is at most |new| rows.  A same-size
    shuffle-join of corpus×new on the hash would move the corpus;
    this plan moves only the increment.  Within-batch duplicates are
    handled by the same pass (count > first occurrence).

    Output: one row per new document —
    (doc_id, content_hash, dup_of_corpus, dup_in_batch, is_new) where
    ``dup_of_corpus`` = min corpus doc id sharing the hash (NULL if
    none), ``dup_in_batch`` = min SMALLER new-batch id sharing the
    hash (NULL if first), ``is_new`` ⇔ neither exists.

    ``hash_col`` sets the content key (default: md5 of the raw text;
    pass :func:`prefix_fingerprint` for the template-family key).
    """
    if hash_col is None:
        hash_col = F.md5(F.col(text_col))
    nb = new_batch.select(
        F.col(id_col).alias("new_id"),
        hash_col.alias("content_hash"),
    )
    corpus_hits = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            hash_col.alias("content_hash"),
        )
        .join(F.broadcast(nb.select("content_hash").distinct()), "content_hash")
        .groupBy("content_hash")
        .agg(F.min("corpus_id").alias("dup_of_corpus"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("content_hash")
        .orderBy("new_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = nb.withColumn("dup_in_batch", F.min("new_id").over(w))
    return (
        flagged.join(F.broadcast(corpus_hits), "content_hash", "left")
        .select(
            F.col("new_id").alias(id_col),
            "content_hash",
            "dup_of_corpus",
            "dup_in_batch",
            (
                F.col("dup_of_corpus").isNull()
                & F.col("dup_in_batch").isNull()
            ).alias("is_new"),
        )
    )


def repeated_span_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_docs: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Exact repeated-substring profiling — the span-level dedup pass of
    Lee et al., *Deduplicating Training Data Makes Language Models
    Better* (find every ``width``-token window that occurs verbatim in
    ``min_docs``+ documents, then merge overlapping windows into maximal
    repeated SPANS per document).  Doc-level dedup (q_dedup_ngram et
    al.) can't see a boilerplate paragraph shared by otherwise-distinct
    pages; this operator localizes it to token ranges so a downstream
    cleaner can cut the span instead of dropping the doc.

    Scale physics — everything is LINEAR in corpus tokens (no candidate
    pairs are ever formed, so no ``max_df`` cap is needed; a span in a
    million documents is exactly the boilerplate we want to find):

    1. tokens posexplode once; full-width positional shingles assemble
       from window leads over (doc, pos) — one exchange on the doc key
       (per-doc token counts come straight off the in-scan ``size``,
       no extra exchange).
    2. shingle → distinct-doc frequency: ONE hash aggregate on the
       shingle key (map-side combined).
    3. repeated positions join back on the shingle key, then merge into
       maximal spans with the gaps-and-islands window (cummax of span
       end; adjacent-token spans coalesce) — one exchange back to the
       doc key, which the final per-doc rollup reuses.

    Output: one row per document —
    (doc_id, n_tokens, n_spans, repeated_tokens, repeat_frac), zeros
    for documents with no repeated span; documents shorter than
    ``width`` tokens have no windows by construction.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "tok"),
    )
    wdoc = Window.partitionBy("_id").orderBy("pos")
    leads = [F.lead("tok", j).over(wdoc).alias(f"_t{j}") for j in range(1, width)]
    g = toks.select("_id", "pos", "tok", *leads)
    sh = g.filter(F.col(f"_t{width - 1}").isNotNull()).select(
        "_id",
        "pos",
        F.concat_ws(" ", "tok", *[f"_t{j}" for j in range(1, width)]).alias("sh"),
    )
    dfc = (
        sh.groupBy("sh")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
    )
    spans = sh.join(dfc, "sh").select(
        "_id", F.col("pos").alias("s"), (F.col("pos") + width - 1).alias("e")
    )
    wspan = Window.partitionBy("_id").orderBy("s")
    prev_e = (
        F.max("e")
        .over(wspan.rowsBetween(Window.unboundedPreceding, -1))
        .alias("_prev_e")
    )
    isl = spans.select("_id", "s", "e", prev_e).select(
        "_id",
        "s",
        "e",
        F.sum(
            F.when(
                F.col("_prev_e").isNull() | (F.col("s") > F.col("_prev_e") + 1),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .over(wspan.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    merged = isl.groupBy("_id", "island").agg(
        (F.max("e") - F.min("s") + 1).alias("_len")
    )
    perdoc = merged.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("_len").alias("repeated_tokens"),
    )
    ntok = docs.select(
        F.col(id_col).alias(id_col),
        F.size(tokenize(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    out = ntok.join(
        perdoc.withColumnRenamed("_id", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("repeated_tokens", F.lit(0))
        .cast("long")
        .alias("repeated_tokens"),
        F.coalesce(
            F.round(
                F.col("repeated_tokens")
                / F.nullif(F.col("n_tokens"), F.lit(0)),
                round_to,
            ),
            F.lit(0.0),
        ).alias("repeat_frac"),
    )


def pair_cosine_histogram(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    bin_width: float = 0.05,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Threshold-tuning histogram of blocked-pair cosines — the
    evidence a pipeline needs BEFORE fixing a near-dup cutoff: run the
    same blocked pair generator as :func:`embedding_cosine_pairs` with
    no threshold, bucket the cosines, and read the knee off the
    distribution (at 100 TB you tune on this histogram, not by eyeball
    on sampled pairs).

    Binning is deterministic cross-engine: the pair cosine is rounded
    first (both engines produce bit-identical doubles from the
    index-ordered fold, so rounding only guards display ulps), then
    ``floor(cosine / bin_width)`` indexes the bin; ``bin_lo`` is the
    bin's inclusive lower edge.  Pair space stays blocked — the
    histogram costs exactly one aggregate over the capped pair list.

    Output: (bin_lo, n_pairs, min_cos, max_cos) ordered ascending.
    """
    pairs = embedding_cosine_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        block_col=block_col,
        threshold=-1.0,
        dim=dim,
    )
    c = F.round(F.col("cosine"), round_to)
    k = F.floor(c / bin_width)
    return (
        pairs.select(
            F.round(k * bin_width, round_to).alias("bin_lo"), c.alias("_c")
        )
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("_c").alias("min_cos"),
            F.max("_c").alias("max_cos"),
        )
    )


def pair_degree_histogram(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Degree distribution of a candidate-pair graph — the dedup-health
    monitor: a healthy near-dup graph is shallow near-cliques (small
    degrees); a hub node (one doc paired with thousands) means a
    boilerplate shingle slipped past the df cap and the transitive
    closure is about to glue unrelated documents together.  Run this on
    every new pair batch BEFORE connected components.

    Two bounded aggregates over the pair list (already tiny relative to
    the corpus): per-node degree, then the degree histogram.

    Output: (degree, n_nodes).
    """
    nodes = pairs.select(F.col(id_a).alias("id")).unionAll(
        pairs.select(F.col(id_b).alias("id"))
    )
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def minhash_calibration(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash estimator calibration — measure the sketch against the
    truth it estimates, in-engine: every LSH candidate pair's estimated
    Jaccard (matching-lane fraction) beside its EXACT shingle Jaccard,
    rolled up per estimate value.  The report a pipeline reads before
    picking a band/row configuration or trusting a threshold — the
    sketch-quality twin of :func:`similarity.quantization_error`.

    Candidates are every band-collision pair (threshold = one matching
    band, the structural minimum — no extra cut, so the calibration
    sees the estimator's full operating range).  Exact Jaccard uses the
    two-stage verify physics: candidate ids broadcast-semi-join the
    corpus BEFORE the shingle HOF runs, candidate-sized text work, the
    corpus never shuffled.  Lanes are md5 hex-slices, so an oracle
    replays the same sketch.  Estimates are exact multiples of
    1/num_hashes; the rollup sums 6-decimal-rounded values in DECIMAL.

    Output: (est_jaccard, n_pairs, avg_exact, mae) — mae is the mean
    |est − exact| within the estimate bucket.
    """
    from flink_kmeans_clustering_spark.functions.text import (
        ngram_shingles,
        tokenize,
    )

    cand = minhash_lsh_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=1.0 / num_hashes,  # one matching band implies more
        hash_fn="md5",
    ).localCheckpoint()
    cand_ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .union(cand.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    needed = docs.join(
        F.broadcast(cand_ids), docs[id_col] == F.col("_cid"), "left_semi"
    )
    sh = needed.select(
        F.col(id_col).alias("_id"),
        ngram_shingles(tokenize(F.col(text_col)), n).alias("_sh"),
    ).localCheckpoint()
    with_a = (
        sh.join(F.broadcast(cand), F.col("_id") == F.col("id_a"))
        .drop("_id")
        .withColumnRenamed("_sh", "sh_a")
    )
    with_ab = (
        sh.join(F.broadcast(with_a), F.col("_id") == F.col("id_b"))
        .drop("_id")
        .withColumnRenamed("_sh", "sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    exact = F.round(inter.cast("double") / union, 6)
    scored = with_ab.filter(union > 0).select(
        "est_jaccard",
        exact.alias("_exact"),
        F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("_err"),
    )
    cnt = F.count(F.lit(1))
    return scored.groupBy("est_jaccard").agg(
        cnt.alias("n_pairs"),
        F.round(
            F.sum(F.col("_exact").cast("decimal(20,6)")).cast("double") / cnt,
            6,
        ).alias("avg_exact"),
        F.round(
            F.sum(F.col("_err").cast("decimal(20,6)")).cast("double") / cnt,
            6,
        ).alias("mae"),
    )


GEAR_WINDOW = 8       # rolling window width (chars)
GEAR_BOUNDARY_MOD = 64  # expected chunk length (1-in-64 boundary rate)


def gear_table() -> list[int]:
    """The 256-entry gear table: value for byte/char class ``c`` is the
    first 8 md5-hex chars of ``"gear:c"`` — the same portable-digest
    contract as the MinHash/SimHash/CMS lane families, so any engine
    regenerates the identical table from the same one-line recipe."""
    import hashlib

    return [
        int(hashlib.md5(f"gear:{c}".encode()).hexdigest()[:8], 16)
        for c in range(256)
    ]


def gear_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = GEAR_WINDOW,
    boundary_mod: int = GEAR_BOUNDARY_MOD,
    extra_cols: tuple = (),
) -> DataFrame:
    """Content-defined chunk rows: (id, *extra_cols, digest, _len), one
    row per gear-cut chunk of each non-empty document.  The shared
    cut/slice/digest kernel of :func:`gear_chunk_stats` (see there for
    the hash definition and determinism contract) — the whole per-doc
    computation is ONE let-bound codegen'd expression, and ``spread``
    rebalances single-file scans across the slots before the heavy
    per-row work (the q_multimodal_phash lesson)."""
    glit = "array(" + ",".join(f"{v}L" for v in gear_table()) + ")"
    w, mod = int(window), int(boundary_mod)
    chunk_expr = f"""
element_at(transform(array({text_col}), s ->
  element_at(transform(array(
    CASE WHEN length(s) < {w} THEN array(bigint(length(s)))
         ELSE array_sort(array_distinct(concat(
           filter(sequence(bigint({w}), bigint(length(s))), i ->
             aggregate(sequence(0, {w - 1}), 0L, (acc, j) ->
               acc + element_at({glit},
                       int(pmod(ascii(substring(s, int(i - j), 1)), 256)) + 1)
                     * shiftleft(1L, {w - 1} - j)) % {mod} = 0),
           array(bigint(length(s)))))) END
  ), cuts -> transform(sequence(1, size(cuts)), k ->
       substring(s,
         int(CASE WHEN k = 1 THEN 1L ELSE element_at(cuts, k - 1) + 1 END),
         int(element_at(cuts, k)
             - CASE WHEN k = 1 THEN 1L ELSE element_at(cuts, k - 1) + 1 END
             + 1))
  )), 1)), 1)
"""
    from flink_kmeans_clustering_spark.operators.common import spread

    extras = [F.col(c) for c in extra_cols]
    return (
        spread(df.filter(F.length(text_col) > 0), id_col)
        .select(
            F.col(id_col), *extras, F.explode(F.expr(chunk_expr)).alias("_chunk")
        )
        .select(
            F.col(id_col),
            *extras,
            F.md5(F.col("_chunk")).alias("digest"),
            F.length("_chunk").alias("_len"),
        )
    )


def gear_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = GEAR_WINDOW,
    boundary_mod: int = GEAR_BOUNDARY_MOD,
    top_n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined chunking dedup (gear hash — the LBFS/FastCDC
    family): cut every document where a windowed gear hash of the last
    ``window`` characters hits ``≡ 0 (mod boundary_mod)``, digest each
    chunk, and report the chunks repeated ACROSS documents.

    Why content-defined: fixed-offset blocks break under insertion
    (one added character shifts every later block boundary), so
    storage dedup and crawl-snapshot diffing cut at positions chosen
    by the CONTENT — an edit only disturbs the chunks it touches and
    every repeated region downstream re-aligns.  This catches shared
    boilerplate/quotes at arbitrary offsets that whole-doc digests and
    fixed shingles miss.

    Engine-portable determinism: the hash at end-position i is
    ``Σ_j gear[codepoint(s[i−j]) mod 256] · 2^(window−1−j)`` — pure
    integer arithmetic (max < 2^42, exact in any BIGINT), windowed
    rather than recursively rolling, so an engine without stateful
    scans replays it as a per-position fixed sum.  Cut lists are
    explicitly sorted (DuckDB's ``list_distinct`` does NOT preserve
    order — measured).

    Scale shape: per-document work is O(window·len) inside ONE
    let-bound codegen'd expression (the text is bound once — the
    projection-collapse guard); the only corpus-wide shuffle carries
    (doc, chunk-digest) rows at ~len/boundary_mod per document —
    linear; the digest aggregate is the dedup join of the storage
    world.  Output: top ``top_n`` cross-document chunks by
    (n_docs DESC, n_occurrences DESC, digest) with chunk length and
    the lowest containing doc id.
    """
    chunks = gear_chunks(df, id_col, text_col, window, boundary_mod)
    stats = chunks.groupBy("digest").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("_len").alias("chunk_len"),
        F.min(id_col).alias("min_doc_id"),
    )
    return (
        stats.filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "digest")
        .limit(top_n)
    )


def snapshot_delta_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    window: int = GEAR_WINDOW,
    boundary_mod: int = GEAR_BOUNDARY_MOD,
) -> DataFrame:
    """Crawl-snapshot delta-dedup: how many bytes of TODAY's crawl are
    already stored in YESTERDAY's, chunk-for-chunk?  The incremental-
    ingest question every recrawling pipeline answers before paying to
    re-process — composing :func:`gear_chunks` (content-defined cuts,
    so a prefix edit doesn't cascade re-chunking) with the snapshot-
    membership join of ``incremental_dedup``.

    Snapshots here are a deterministic content-hash split (first md5
    hex byte of the doc id: even = OLD, odd = NEW — a stand-in for a
    crawl-date column that, unlike raw id parity, is uncorrelated with
    the generator's id-derived source/modality columns).  Per NEW
    document, a chunk's bytes are "already stored" iff its digest
    appears ANYWHERE in the old snapshot.

    Scale shape: one documents scan feeds the chunk kernel for both
    snapshots (row-local, no shuffle); old-side digests distinct (one
    exchange on digest — uniform md5 keys, skew-free) then a
    digest-key inner join against the new-side chunks (the second
    exchange; at 100 TB the old snapshot's digest index is a bucketed
    table on digest, making the daily delta join exchange-free on the
    stored side — the data-domain dedup of Venti/LBFS at crawl scale).
    Group rollups are k-row aggregates.

    Output: one row per ``group_col`` — (group, n_new_docs, new_bytes,
    dup_bytes, dup_chunks, dedup_ratio) ordered by group; empty-text
    docs carry zero chunk bytes but still count in n_new_docs.
    """
    def _is_new(c):
        b = F.conv(F.substring(F.md5(c.cast("string")), 1, 2), 16, 10)
        return b.cast("int") % 2 == 1

    is_new = _is_new(F.col(id_col))
    chunks = gear_chunks(
        df, id_col, text_col, window, boundary_mod, extra_cols=(group_col,)
    )
    old_digests = (
        chunks.filter(~_is_new(F.col(id_col))).select("digest").distinct()
    )
    new_chunks = chunks.filter(_is_new(F.col(id_col)))
    dup = (
        new_chunks.join(old_digests, "digest")
        .groupBy(group_col)
        .agg(
            F.sum("_len").alias("dup_bytes"),
            F.count(F.lit(1)).alias("dup_chunks"),
        )
    )
    totals = (
        df.filter(is_new)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_new_docs"),
            F.sum(F.length(text_col)).alias("new_bytes"),
        )
    )
    return (
        totals.join(dup, group_col, "left")
        .select(
            F.col(group_col),
            F.col("n_new_docs"),
            F.col("new_bytes"),
            F.coalesce(F.col("dup_bytes"), F.lit(0)).alias("dup_bytes"),
            F.coalesce(F.col("dup_chunks"), F.lit(0)).alias("dup_chunks"),
            F.when(
                F.col("new_bytes") > 0,
                F.round(
                    F.coalesce(F.col("dup_bytes"), F.lit(0))
                    / F.col("new_bytes").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dedup_ratio"),
        )
        .orderBy(group_col)
    )


def caption_fingerprints(
    docs: DataFrame,
    max_caption_group: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """(cid, fp) — the exact token-SET caption fingerprint (md5 of the
    sorted distinct token list: word order and repetition invariant),
    hot-group capped at ``max_caption_group`` (boilerplate captions
    are template noise, not reuse).  The caption side of both the
    full and the incremental cross-modal joint dedup."""
    # r14 optimization notes, all hash-verified at 3 scales:
    # * the has-a-token filter is `lower(text) rlike '[a-z0-9]'` — a
    #   non-empty token exists iff the lowered text contains an
    #   alphanumeric char (split segments ARE the [a-z0-9] runs), so
    #   the projection runs tokenize ONCE instead of twice per row
    #   (NULL text: rlike(NULL) is NULL → dropped, exactly like the
    #   old size(tokenize(NULL)) = -1);
    # * _spread before the tokenize+md5 projection — a single-file
    #   corpus otherwise fingerprints on ONE task (measured ~1.1 s
    #   serial at sf0.1); no-op at 100 TB where inputs have splits;
    # * the (cid, fp) projection localCheckpoints: every consumer
    #   self-joins it (x × y) AND derives the group counts from it, so
    #   un-checkpointed the tokenize+md5 subtree executed 3× per pass
    #   (6× through the keepset chain's double pair reference) — the
    #   TUNING.md DAG-re-evaluation rule; one narrow row per doc, the
    #   same disk-backed O(corpus rows) trade as the prefix-join sets.
    caps = _spread(
        docs.filter(F.lower(F.col(text_col)).rlike("[a-z0-9]")), id_col
    ).select(
        F.col(id_col).alias("cid"),
        F.md5(
            F.concat_ws(
                " ",
                F.array_sort(F.array_distinct(tokenize(F.col(text_col)))),
            )
        ).alias("fp"),
    )
    # ``checkpoint=False`` (ADVICE r14) keeps the caption subtree lazy
    # for the plan-shape pins — the same escape checkpoint_pairs gives
    # the pair list; True (the default) is the r13/r14 perf trade.
    if checkpoint:
        caps = caps.localCheckpoint()
    gcnt = caps.groupBy("fp").agg(F.count(F.lit(1)).alias("_gn"))
    return (
        caps.join(F.broadcast(gcnt), "fp")
        .filter(F.col("_gn") <= max_caption_group)
        .select("cid", "fp")
    )


def crossmodal_dedup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_block: int | None = 200,
    max_caption_group: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_captions: bool = True,
) -> DataFrame:
    """Cross-modal JOINT dedup (new r11): catch asset reuse that a
    single-modality pass misses — an image re-posted under a rewritten
    caption (``recaptioned``) and a caption re-used over a re-encoded
    image (``reencoded``) — plus true re-posts where both match
    (``both``).  This is the LAION-style curation step after the
    agreement filter: per-modality near-dup keys, joined on the PAIR.

    Composition of two existing bucketed passes — nothing all-pairs:

    * image side: :func:`~flink_kmeans_clustering_spark.operators.
      multimodal.phash_pairs` over the synthesized asset corpus —
      aHash pigeonhole blocking, Hamming ≤ ``max_hamming`` verify,
      hot-block cap ``max_block``.
    * caption side: exact token-SET fingerprint (md5 of the sorted
      distinct token list — word order and repetition invariant, the
      cheap "same caption content" key), self-joined within
      fingerprint groups under the ``max_caption_group`` hot-group cap
      (boilerplate captions are template noise, not reuse — the same
      documented trade as every blocking cap in this module).

    The two bounded pair lists meet in ONE full-outer join on the
    (id_a, id_b) key — pair-list-sized, never corpus-sized.  At 100 TB
    both sides stay linear-plus-candidates exactly like their parent
    operators; the join key is an md5-uniform pair, skew-free.

    Output: (id_a, id_b, kind, hamming) with id_a < id_b; ``hamming``
    is NULL for caption-only (``reencoded``) pairs.
    """
    from flink_kmeans_clustering_spark.operators.multimodal import (
        phash_pairs,
        synthesize_assets,
    )

    ipairs = phash_pairs(
        synthesize_assets(docs),
        max_hamming=max_hamming,
        max_block=max_block,
    )
    caps = caption_fingerprints(
        docs, max_caption_group, id_col, text_col,
        checkpoint=checkpoint_captions,
    )
    x, y = caps.alias("x"), caps.alias("y")
    cpairs = x.join(
        y,
        (F.col("x.fp") == F.col("y.fp"))
        & (F.col("x.cid") < F.col("y.cid")),
    ).select(
        F.col("x.cid").alias("cid_a"), F.col("y.cid").alias("cid_b")
    )
    joined = ipairs.join(
        cpairs,
        (F.col("id_a") == F.col("cid_a")) & (F.col("id_b") == F.col("cid_b")),
        "full_outer",
    )
    kind = (
        F.when(
            F.col("id_a").isNotNull() & F.col("cid_a").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("id_a").isNotNull(), F.lit("recaptioned"))
        .otherwise(F.lit("reencoded"))
    )
    return joined.select(
        F.coalesce(F.col("id_a"), F.col("cid_a")).alias("id_a"),
        F.coalesce(F.col("id_b"), F.col("cid_b")).alias("id_b"),
        kind.alias("kind"),
        F.col("hamming"),
    )


def crossmodal_delta_pairs(
    docs: DataFrame,
    lane_mod: int = 10,
    lane: int = 7,
    max_hamming: int = 3,
    max_block: int | None = 200,
    max_caption_group: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_captions: bool = True,
) -> DataFrame:
    """INCREMENTAL cross-modal joint dedup (new r12) — the
    daily-ingest shape of :func:`crossmodal_dedup_pairs`, composed the
    same way :func:`incremental_exact_dedup` reshapes the exact pass:
    the stored index (OLD snapshot) was already deduped; today's drop
    (``doc_id % lane_mod == lane``) is the only thing that needs
    pairing — against the index AND within itself.

    Scale physics vs the full pass: candidate generation on BOTH
    modality sides is new × all instead of all × all —
    |new|·block-sized, the increment's cost, not the corpus's.  Block/
    group statistics (and their hot caps) still come from the FULL
    corpus, so a boilerplate chunk or template caption stays capped no
    matter which snapshot its members arrived in; the index side is
    scanned but never pair-joined against itself.  The two bounded
    pair lists meet in the same ONE full-outer join on the md5-uniform
    (id_a, id_b) pair key.

    Output: (id_a, id_b, kind, hamming, against_index) with
    id_a < id_b — ``kind`` as in the full pass (both / recaptioned /
    reencoded), ``against_index`` TRUE when the pair hits the stored
    index (one side old: a re-ingest of known content) and FALSE for
    within-batch duplicates (the drop repeating itself).
    """
    from flink_kmeans_clustering_spark.operators.multimodal import (
        phash_pairs,
        synthesize_assets,
    )

    def _is_new(c):
        return c % lane_mod == lane

    ipairs = phash_pairs(
        synthesize_assets(docs),
        max_hamming=max_hamming,
        max_block=max_block,
        new_pred=_is_new,
    )
    caps = caption_fingerprints(
        docs, max_caption_group, id_col, text_col,
        checkpoint=checkpoint_captions,
    )
    x, y = caps.alias("x"), caps.alias("y")
    cx, cy = F.col("x.cid"), F.col("y.cid")
    cpairs = x.join(
        y,
        (F.col("x.fp") == F.col("y.fp"))
        & _is_new(cx)
        & (~_is_new(cy) | (cx < cy))
        & (cx != cy),
    ).select(
        F.least(cx, cy).alias("cid_a"), F.greatest(cx, cy).alias("cid_b")
    )
    joined = ipairs.join(
        cpairs,
        (F.col("id_a") == F.col("cid_a")) & (F.col("id_b") == F.col("cid_b")),
        "full_outer",
    )
    kind = (
        F.when(
            F.col("id_a").isNotNull() & F.col("cid_a").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("id_a").isNotNull(), F.lit("recaptioned"))
        .otherwise(F.lit("reencoded"))
    )
    out_a = F.coalesce(F.col("id_a"), F.col("cid_a"))
    out_b = F.coalesce(F.col("id_b"), F.col("cid_b"))
    return joined.select(
        out_a.alias("id_a"),
        out_b.alias("id_b"),
        kind.alias("kind"),
        F.col("hamming"),
        (~(_is_new(out_a) & _is_new(out_b))).alias("against_index"),
    )


def crossmodal_keepset(
    docs: DataFrame,
    lane_mod: int = 10,
    lane: int = 7,
    max_hamming: int = 3,
    max_block: int | None = 200,
    max_caption_group: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    checkpoint_pairs: bool = True,
) -> DataFrame:
    """Ingest keep-set / write-side report of the incremental
    cross-modal pass (new r13): :func:`crossmodal_delta_pairs` says
    which pairs collide; this says what to DO with each document in
    today's drop — the decision a daily ingest job actually writes.

    Decision rules, deterministic and one-hop (the standard greedy
    min-id representative; full transitive closure is the offline
    compaction job's business, not the ingest report's):

    * ``drop_known`` — the doc pairs against the stored index
      (``against_index``): its content is already stored;
      ``canonical_id`` is the smallest index doc it matched.
    * ``drop_in_batch`` — no index hit, but a within-batch pair with a
      SMALLER new doc exists: the drop repeats itself and the smaller
      id is the representative; ``canonical_id`` is the smallest such
      partner.
    * ``keep_canonical`` — within-batch pairs exist but only with
      larger ids: this doc IS the representative its group keeps;
      ``canonical_id`` is itself.
    * ``keep_new`` — no pairs at all: genuinely new content;
      ``canonical_id`` is itself.

    Scale shape: the pair list is increment-sized (the delta
    contract), so everything derived from it — the two-direction
    touch explode, the per-doc min/count aggregate — is pair-sized;
    the only corpus-lane-sized steps are the new-lane scan (token
    counts for the economics) and its equi-join to the per-doc
    aggregate on the md5-uniform id.  Old x old is never generated,
    the index is never shuffled.

    Output: one row per new-lane doc — (doc_id, source, n_tokens,
    decision, canonical_id, kinds, n_index_pairs, n_batch_pairs) where
    ``kinds`` is the sorted distinct pair-kind evidence ('' when
    unpaired), ordered by doc_id.
    """
    from flink_kmeans_clustering_spark.functions.text import tokenize

    pairs = crossmodal_delta_pairs(
        docs,
        lane_mod=lane_mod,
        lane=lane,
        max_hamming=max_hamming,
        max_block=max_block,
        max_caption_group=max_caption_group,
        id_col=id_col,
        text_col=text_col,
        # checkpoint_pairs=False means "show me the WHOLE lazy plan"
        # (the plan-shape pins) — the caption checkpoint must lift too
        # (ADVICE r14: it truncated the caption subtree to a LogicalRDD
        # and ran real jobs at plan-construction time)
        checkpoint_captions=checkpoint_pairs,
    )
    # the touch union references the pair list TWICE — un-checkpointed,
    # the whole delta DAG (both modality joins + the full-outer merge)
    # executed once per branch (the TUNING.md DAG-re-evaluation rule,
    # measured ~1.4 s/extra pass + a ~1.5 s Catalyst gap from the
    # doubled plan at sf0.1).  The list is increment-sized by the delta
    # contract, so materializing it is pair-sized state, never corpus-
    # sized.  ``checkpoint_pairs=False`` exposes the full lazy plan for
    # the plan-shape pins (r14; the gate/calib materialize-flag
    # precedent).
    if checkpoint_pairs:
        pairs = pairs.localCheckpoint()
    touch = pairs.select(
        F.col("id_a").alias("doc"),
        F.col("id_b").alias("partner"),
        "kind",
        "against_index",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("doc"),
            F.col("id_a").alias("partner"),
            "kind",
            "against_index",
        )
    ).filter(F.col("doc") % lane_mod == lane)
    agg = touch.groupBy("doc").agg(
        F.min(F.when(F.col("against_index"), F.col("partner"))).alias(
            "_idx_min"
        ),
        F.sum(F.when(F.col("against_index"), 1).otherwise(0))
        .cast("long")
        .alias("n_index_pairs"),
        F.min(
            F.when(
                ~F.col("against_index") & (F.col("partner") < F.col("doc")),
                F.col("partner"),
            )
        ).alias("_batch_min"),
        F.sum(F.when(~F.col("against_index"), 1).otherwise(0))
        .cast("long")
        .alias("n_batch_pairs"),
        F.array_join(F.array_sort(F.collect_set("kind")), ",").alias(
            "_kinds"
        ),
    )
    # _spread before the lane's tokenize projection (r14): the new-lane
    # scan of a single-file corpus otherwise counts tokens on ONE task;
    # no-op at 100 TB where inputs have splits
    nd = _spread(docs.filter(F.col(id_col) % lane_mod == lane), id_col).select(
        F.col(id_col).alias("doc"),
        F.col(source_col).alias("source"),
        F.size(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "n_tokens"
        ),
    )
    j = nd.join(agg, "doc", "left")
    decision = (
        F.when(F.col("_idx_min").isNotNull(), F.lit("drop_known"))
        .when(F.col("_batch_min").isNotNull(), F.lit("drop_in_batch"))
        .when(F.coalesce("n_batch_pairs", F.lit(0)) > 0, F.lit("keep_canonical"))
        .otherwise(F.lit("keep_new"))
    )
    return j.select(
        F.col("doc").alias("doc_id"),
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        decision.alias("decision"),
        F.coalesce(
            F.col("_idx_min"),
            F.col("_batch_min"),
            F.col("doc"),
        ).alias("canonical_id"),
        F.coalesce(F.col("_kinds"), F.lit("")).alias("kinds"),
        F.coalesce("n_index_pairs", F.lit(0)).alias("n_index_pairs"),
        F.coalesce("n_batch_pairs", F.lit(0)).alias("n_batch_pairs"),
    ).orderBy("doc_id")


def crossmodal_keepset_compaction(
    docs: DataFrame,
    lane_mod: int = 10,
    lane: int = 7,
    max_hamming: int = 3,
    max_block: int | None = 200,
    max_caption_group: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    checkpoint_pairs: bool = True,
) -> DataFrame:
    """Keep-set compaction delta (new r14) — the final write-side step
    of the incremental cross-modal pass: APPLY
    :func:`crossmodal_keepset`'s per-doc decisions and report what the
    stored index looks like AFTER the ingest — size before/after and
    the per-decision additions, per source.  This is the ledger row a
    daily ingest job writes when it commits the batch: how much the
    index grew, how much the dedup gate saved.

    Derivation: the keep-set report is already lane-sized (pair-sized
    aggregates + one lane scan — the r13 contract); this pass adds ONE
    index-lane scan collapsing straight to a |sources|-row
    (docs, tokens) aggregate — the index is counted, never shuffled
    and never pair-joined — and a |sources|-row full-outer join of the
    two tiny aggregates (a source can exist only in the index or only
    in today's drop; both sides survive with zero-filled counts).
    Index-after = index-before + kept rows (keep_canonical + keep_new)
    by construction — the compaction applies exactly the decisions the
    keep-set published, so the two reports cannot drift apart.

    All counts and token sums are exact integers on both engines; the
    one ratio (``ingest_kept_frac``, NULL for sources with no ingested
    docs) divides identical integers.

    Output: one row per source — (source, idx_docs_before,
    idx_tokens_before, n_ingested, n_dropped_known, n_dropped_in_batch,
    n_kept_canonical, n_kept_new, added_docs, added_tokens,
    idx_docs_after, idx_tokens_after, ingest_kept_frac), ordered by
    source.
    """
    from flink_kmeans_clustering_spark.functions.text import tokenize

    ks = crossmodal_keepset(
        docs,
        lane_mod=lane_mod,
        lane=lane,
        max_hamming=max_hamming,
        max_block=max_block,
        max_caption_group=max_caption_group,
        id_col=id_col,
        text_col=text_col,
        source_col=source_col,
        checkpoint_pairs=checkpoint_pairs,
    )
    kept = F.col("decision").isin("keep_canonical", "keep_new")
    ka = ks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ingested"),
        F.sum((F.col("decision") == "drop_known").cast("long")).alias(
            "n_dropped_known"
        ),
        F.sum((F.col("decision") == "drop_in_batch").cast("long")).alias(
            "n_dropped_in_batch"
        ),
        F.sum((F.col("decision") == "keep_canonical").cast("long")).alias(
            "n_kept_canonical"
        ),
        F.sum((F.col("decision") == "keep_new").cast("long")).alias(
            "n_kept_new"
        ),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("added_tokens"),
    )
    # _spread before the index-lane tokenize (r14): ~90% of a
    # single-file corpus otherwise token-counts on ONE task (measured
    # a 1.9 s single-task stage at sf0.1); no-op at scale
    old = (
        _spread(docs.filter(F.col(id_col) % lane_mod != lane), id_col)
        .select(
            F.col(source_col).alias("source"),
            F.size(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias(
                "n_tokens"
            ),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("idx_docs_before"),
            F.sum("n_tokens").cast("long").alias("idx_tokens_before"),
        )
    )
    j = old.join(ka, "source", "full_outer")
    return j.selectExpr(
        "source",
        "CAST(coalesce(idx_docs_before, 0) AS BIGINT) AS idx_docs_before",
        "CAST(coalesce(idx_tokens_before, 0) AS BIGINT)"
        " AS idx_tokens_before",
        "CAST(coalesce(n_ingested, 0) AS BIGINT) AS n_ingested",
        "CAST(coalesce(n_dropped_known, 0) AS BIGINT) AS n_dropped_known",
        "CAST(coalesce(n_dropped_in_batch, 0) AS BIGINT)"
        " AS n_dropped_in_batch",
        "CAST(coalesce(n_kept_canonical, 0) AS BIGINT) AS n_kept_canonical",
        "CAST(coalesce(n_kept_new, 0) AS BIGINT) AS n_kept_new",
        "CAST(coalesce(n_kept_canonical, 0) + coalesce(n_kept_new, 0)"
        " AS BIGINT) AS added_docs",
        "CAST(coalesce(added_tokens, 0) AS BIGINT) AS added_tokens",
        "CAST(coalesce(idx_docs_before, 0) + coalesce(n_kept_canonical, 0)"
        " + coalesce(n_kept_new, 0) AS BIGINT) AS idx_docs_after",
        "CAST(coalesce(idx_tokens_before, 0) + coalesce(added_tokens, 0)"
        " AS BIGINT) AS idx_tokens_after",
        "CASE WHEN coalesce(n_ingested, 0) > 0 THEN"
        " round(CAST(coalesce(n_kept_canonical, 0) + coalesce(n_kept_new, 0)"
        " AS DOUBLE) / n_ingested, 6) END AS ingest_kept_frac",
    ).orderBy("source")
