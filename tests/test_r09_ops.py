"""Unit tests for round-9 operators: IVFADC (residual IVF+PQ), DSIR
importance weights, lightweight k-means coreset sampling."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


# --- ann_ivfpq ---------------------------------------------------------------


def _ivfpq_corpus(spark):
    """Two well-separated cells around (10,0) and (0,10), 4-dim."""
    rows = [
        (0, 0, [10.0, 0.0, 1.0, 0.0]),
        (1, 0, [10.0, 1.0, 0.0, 0.0]),
        (2, 0, [9.0, 0.0, 0.0, 1.0]),
        (3, 1, [0.0, 10.0, 1.0, 0.0]),
        (4, 1, [1.0, 10.0, 0.0, 0.0]),
        (5, 1, [0.0, 9.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )


def test_ivfpq_small_corpus_is_exact_within_probed_cells(spark):
    """With ≤ k corpus vectors every residual IS a codeword, so the ADC
    score equals the exact residual distance, which equals the exact
    query distance (rq − r = q − v) — IVFADC with all cells probed must
    therefore reproduce brute-force top-k exactly."""
    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_ivfpq,
        cell_centroids,
        ivfpq_residual_codebooks,
    )

    df = _ivfpq_corpus(spark)
    cents = [
        (r["cell"], list(r["centroid"]))
        for r in cell_centroids(df, "label").collect()
    ]
    books = ivfpq_residual_codebooks(df, cents, m=2, k=6)
    q = [10.0, 0.0, 0.0, 0.0]
    got = ann_ivfpq(
        df, q, cents, books, k=3, n_probe=2, shortlist=6
    ).collect()
    # exact squared L2: id1=2, id0=1, id2=2 -> order (0, 1, 2) with
    # d2 = 1, 2, 2 (ties 1 vs 2 -> lowest id)
    truth = sorted(
        (
            sum((a - b) * (a - b) for a, b in zip(r["embedding"], q)),
            r["vec_id"],
        )
        for r in df.collect()
    )[:3]
    assert [r["vec_id"] for r in got] == [t[1] for t in truth]
    assert [r["d2"] for r in got] == [round(t[0], 6) for t in truth]


def test_ivfpq_probe_pruning_excludes_far_cell(spark):
    """n_probe=1 on a query near cell 0 must never return cell-1 ids,
    even ones globally closer than cell-0 stragglers."""
    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_ivfpq,
        cell_centroids,
        ivfpq_residual_codebooks,
    )

    df = _ivfpq_corpus(spark)
    cents = [
        (r["cell"], list(r["centroid"]))
        for r in cell_centroids(df, "label").collect()
    ]
    books = ivfpq_residual_codebooks(df, cents, m=2, k=6)
    got = ann_ivfpq(
        df, [10.0, 0.0, 0.0, 0.0], cents, books, k=6, n_probe=1, shortlist=6
    ).collect()
    assert {r["vec_id"] for r in got} == {0, 1, 2}


def test_ivfpq_residual_codebooks_shape_and_values(spark):
    from flink_kmeans_clustering_spark.operators.similarity import (
        cell_centroids,
        ivfpq_residual_codebooks,
    )

    df = _ivfpq_corpus(spark)
    cents_rows = cell_centroids(df, "label").collect()
    cents = [(r["cell"], list(r["centroid"])) for r in cents_rows]
    books = ivfpq_residual_codebooks(df, cents, m=2, k=3)
    assert len(books) == 2 and all(len(b) == 3 for b in books)
    # codeword 0 of subspace 0 = first 2 dims of (vec_id 0 − centroid 0)
    cent0 = dict(cents)[0]
    expect = [10.0 - cent0[0], 0.0 - cent0[1]]
    assert books[0][0] == expect


# --- dsir_weights ------------------------------------------------------------


def test_dsir_target_like_docs_outrank_offtarget(spark):
    """Docs made of target-slice vocabulary must get higher importance
    weights than docs of off-target vocabulary."""
    from flink_kmeans_clustering_spark.operators.textstats import dsir_weights

    rows = [
        (0, "alpha beta alpha beta gamma", "en", "s0"),
        (1, "alpha beta gamma alpha", "en", "s0"),
        (2, "zug bahn zug bahn hof", "de", "s1"),
        (3, "bahn hof zug", "de", "s1"),
        (4, "alpha beta gamma", "de", "s1"),  # de doc with en vocabulary
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = dsir_weights(
        docs, F.col("lang") == "en", n_buckets=256, top_n=5
    ).collect()
    w = {r["doc_id"]: r["dsir_weight"] for r in out}
    # every en-vocab doc above every de-vocab doc — including doc 4,
    # which is labeled de but LOOKS like the target (the whole point
    # of DSIR: select by content, not by label)
    assert min(w[0], w[1], w[4]) > max(w[2], w[3])


def test_dsir_ngram_counts_are_unigrams_plus_bigrams(spark):
    from flink_kmeans_clustering_spark.operators.textstats import dsir_weights

    docs = spark.createDataFrame(
        [(0, "a b c", "en", "s"), (1, "solo", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = {
        r["doc_id"]: r["n_ngrams"]
        for r in dsir_weights(docs, F.col("lang") == "en").collect()
    }
    assert out == {0: 5, 1: 1}  # 3 unigrams + 2 bigrams; 1 + 0


def test_dsir_empty_and_tokenless_docs_drop_out(spark):
    from flink_kmeans_clustering_spark.operators.textstats import dsir_weights

    docs = spark.createDataFrame(
        [(0, "real text here", "en", "s"), (1, "...", "en", "s"),
         (2, "", "de", "s")],
        "doc_id long, text string, lang string, source string",
    )
    got = dsir_weights(docs, F.col("lang") == "en").collect()
    assert [r["doc_id"] for r in got] == [0]


def test_dsir_weight_matches_hand_computation(spark):
    """One-doc-per-slice corpus, weight replayed in pure Python with
    the same md5 buckets, smoothing, and decimal rounding."""
    import hashlib
    from decimal import Decimal, ROUND_HALF_UP

    from flink_kmeans_clustering_spark.operators.textstats import dsir_weights

    rows = [(0, "aa bb", "en", "s"), (1, "cc dd", "de", "s")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    B, a = 256, 1.0

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    grams = {0: ["aa", "bb", "aa bb"], 1: ["cc", "dd", "cc dd"]}
    from collections import Counter

    per = {d: Counter(bucket(g) for g in gs) for d, gs in grams.items()}
    raw = Counter()
    tgt = Counter()
    for d, c in per.items():
        raw.update(c)
        if d == 0:
            tgt.update(c)
    R, T = sum(raw.values()), sum(tgt.values())
    expect = {}
    for d, c in per.items():
        s = Decimal(0)
        for b, n in c.items():
            lr = math.log((tgt[b] + a) / (T + a * B)) - math.log(
                (raw[b] + a) / (R + a * B)
            )
            s += Decimal(n * lr).quantize(
                Decimal("0.0000000001"), rounding=ROUND_HALF_UP
            )
        expect[d] = float(
            Decimal(float(s)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
    got = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_weights(docs, F.col("lang") == "en").collect()
    }
    assert got == expect


# --- coreset_sample ----------------------------------------------------------


def test_coreset_sensitivities_sum_to_one_and_weights_unbias(spark):
    """Σ s(x) = 1 by construction (½·Σ1/n + ½·Σd²/mass); with k = n the
    sample is the whole corpus, so we can check every row's numbers."""
    from flink_kmeans_clustering_spark.operators.sampling import coreset_sample

    rows = [(i, [float(i), 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = coreset_sample(df, k=5).collect()
    assert len(got) == 5
    assert abs(sum(r["sensitivity"] for r in got) - 1.0) < 1e-6
    # mean = (2, 0); d² = 4, 1, 0, 1, 4; mass = 10
    d2 = {r["vec_id"]: r["d2"] for r in got}
    assert d2 == {0: 4.0, 1: 1.0, 2: 0.0, 3: 1.0, 4: 4.0}
    for r in got:
        s = 0.5 / 5 + 0.5 * d2[r["vec_id"]] / 10.0
        assert abs(r["sensitivity"] - s) < 1e-8
        assert abs(r["coreset_weight"] - 1.0 / (5 * s)) < 1e-5


def test_coreset_prefers_far_points_but_keeps_floor(spark):
    """Outliers (high d²) must be sampled with near-certainty, yet the
    1/(2n) floor keeps on-mean points drawable — the two halves of the
    sensitivity bound."""
    from flink_kmeans_clustering_spark.operators.sampling import coreset_sample

    rows = [(i, [0.0, 0.0]) for i in range(20)] + [(99, [100.0, 100.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = coreset_sample(df, k=3).collect()
    ids = [r["vec_id"] for r in got]
    assert 99 in ids  # sensitivity ≈ 0.5 + floor → practically certain
    assert len(ids) == 3  # floor keeps zero-distance rows in the draw
    w = {r["vec_id"]: r["coreset_weight"] for r in got}
    # the outlier carries LOW weight (it was near-certain to be drawn),
    # the on-mean rows HIGH weight (each represents many twins)
    assert w[99] < min(v for k, v in w.items() if k != 99)


def test_coreset_empty_input_yields_empty(spark):
    from flink_kmeans_clustering_spark.operators.sampling import coreset_sample

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert coreset_sample(df, k=3).count() == 0


# --- array_lit_sql (the nested-literal fast path) ----------------------------


def test_array_lit_bit_identical_to_f_lit(spark):
    """array_lit_sql renders repr(float) literals parsed JVM-side; they
    must be BIT-identical to F.lit for adversarial doubles (subnormal,
    huge, tiny, negative zero, long mantissas) — the guarantee that
    let the PQ/Lloyd trainers swap literal construction without
    re-proving every oracle."""
    from hypothesis import given, settings, strategies as st

    from flink_kmeans_clustering_spark.operators.common import array_lit_sql

    adversarial = [
        0.0, -0.0, 1.0, -1.0, 1e-308, 5e-324, 1.7976931348623157e308,
        0.1, 1/3, 2/3, 1e16 + 1.0, -2.2250738585072014e-308,
        123456789.123456789, 3.141592653589793,
    ]
    df = spark.range(1).select(
        F.lit(adversarial).alias("a"), F.expr(array_lit_sql(adversarial)).alias("b")
    )
    [r] = df.collect()
    import struct

    for x, y in zip(r["a"], r["b"]):
        assert struct.pack("<d", x) == struct.pack("<d", y), (x, y)

    # property half (no Spark job per example): the render path's
    # exactness claim is exactly "repr(float) round-trips" — pin it
    # over arbitrary finite doubles so a future render change (format
    # specs, truncation) fails here, not in an oracle hash
    @settings(max_examples=200, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=False, width=64))
    def check(v):
        assert float(repr(v)) == v or (v != v)  # exact round-trip

    check()


def test_array_lit_rejects_non_finite_and_renders_ints(spark):
    import math

    import pytest as _pytest

    from flink_kmeans_clustering_spark.operators.common import array_lit_sql

    with _pytest.raises(ValueError):
        array_lit_sql([1.0, float("nan")])
    with _pytest.raises(ValueError):
        array_lit_sql([float("inf")])
    [r] = spark.range(1).select(
        F.expr(array_lit_sql([[1, 2], [3, 4]], kind="int")).alias("a"),
    ).collect()
    assert r["a"] == [[1, 2], [3, 4]]


# --- gear_chunk_stats (late-r09: content-defined chunking dedup) -------------


def test_gear_chunks_realign_after_insertion(spark):
    """The content-defined property itself: inserting a prefix shifts
    every fixed-offset block, but gear cuts re-align — the two docs
    must SHARE at least one cross-doc chunk digest."""
    from flink_kmeans_clustering_spark.operators.dedup import gear_chunk_stats

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the miller grinds slowly through the long afternoon of "
        "a dusty village summer with carts and bells and dogs barking"
    )
    docs = spark.createDataFrame(
        [(0, base), (1, "INSERTED PREFIX >>> " + base)],
        "doc_id long, text string",
    )
    got = gear_chunk_stats(docs, top_n=100).collect()
    assert len(got) >= 1  # shared chunk(s) found across the two docs
    assert all(r["n_docs"] == 2 for r in got)


def test_gear_chunks_reassemble_and_short_doc_single_chunk(spark):
    """Cuts partition the text exactly (no char lost or doubled), and a
    doc shorter than the window is ONE chunk."""
    from pyspark.sql import functions as F2

    from flink_kmeans_clustering_spark.operators.dedup import (
        GEAR_WINDOW,
        gear_chunk_stats,
    )

    # reassembly: total chunk bytes per doc == doc length (digest-level
    # stats are the public surface, so check via the digest table at
    # min_docs=1 with occurrences * len summed per doc)
    docs = spark.createDataFrame(
        [(0, "x" * (GEAR_WINDOW - 1)), (1, "some longer text " * 20)],
        "doc_id long, text string",
    )
    out = gear_chunk_stats(docs, top_n=1000, min_docs=1).collect()
    total = {0: 0, 1: 0}
    for r in out:
        total[r["min_doc_id"]] += r["n_occurrences"] * r["chunk_len"]
    assert total[0] == GEAR_WINDOW - 1  # single chunk, whole doc
    [short] = [r for r in out if r["min_doc_id"] == 0]
    assert short["n_occurrences"] == 1 and short["chunk_len"] == GEAR_WINDOW - 1


def test_gear_table_is_deterministic_and_engine_free(spark):
    import hashlib

    from flink_kmeans_clustering_spark.operators.dedup import gear_table

    t = gear_table()
    assert len(t) == 256 and len(set(t)) > 250  # near-unique diffusion
    assert t[0] == int(hashlib.md5(b"gear:0").hexdigest()[:8], 16)
    assert all(0 <= v < 2**32 for v in t)


def test_gear_empty_input_yields_empty(spark):
    from flink_kmeans_clustering_spark.operators.dedup import gear_chunk_stats

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert gear_chunk_stats(docs).count() == 0
