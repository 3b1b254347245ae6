"""Operators must degrade gracefully on empty inputs.

An empty partition is routine at scale (a filter that matched nothing,
an empty date slice); operators must return empty/identity results, not
crash.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from flink_kmeans_clustering_spark.operators.events import (
    asof_join,
    running_user_window,
    sessionize,
    tumbling_window_agg,
    type_date_cube,
)
from flink_kmeans_clustering_spark.operators.kmeans import (
    assign_points,
    lloyd,
    update_centroids,
)
from flink_kmeans_clustering_spark.operators.textstats import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_counts,
)

DOCS_SCHEMA = "doc_id long, text string, n_chars int"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], DOCS_SCHEMA)


@pytest.fixture()
def empty_events(spark):
    return spark.createDataFrame([], EVENTS_SCHEMA)


def test_dedup_ops_empty(spark, empty_docs):
    assert exact_duplicate_groups(empty_docs, ["text"]).count() == 0
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert simhash_pairs(empty_docs).count() == 0


def test_textstats_ops_empty(spark, empty_docs):
    assert token_counts(empty_docs).count() == 0
    assert language_id(empty_docs).count() == 0
    assert quality_score(empty_docs).count() == 0
    assert doc_fingerprint(empty_docs).count() == 0


def test_events_ops_empty(spark, empty_events):
    assert tumbling_window_agg(empty_events).count() == 0
    assert sessionize(empty_events).count() == 0
    assert running_user_window(empty_events).count() == 0
    # Spark emits no grand-total row for grouping sets over empty input
    # (DuckDB emits one with count 0 — an engine asymmetry that only
    # shows on fully-empty tables)
    assert type_date_cube(empty_events).count() == 0
    assert asof_join(empty_events, "purchase", "view").count() == 0


def test_kmeans_ops_empty_points(spark):
    pts = spark.createDataFrame([], "point_id long, x double, y double")
    cents = [(0, 0.0, 0.0), (1, 5.0, 5.0)]
    assert assign_points(pts, cents).count() == 0
    assert update_centroids(assign_points(pts, cents)).count() == 0
    res = lloyd(pts, cents, max_iterations=2, cache=False)
    # all clusters empty -> drop-semantics empties the centroid set
    assert res.centroids == [] and res.wcss == 0.0


def test_docs_with_empty_text(spark):
    docs = spark.createDataFrame(
        [(0, "", 0), (1, "   ", 3), (2, "real text here", 14)], DOCS_SCHEMA
    )
    assert token_counts(docs).count() == 3
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert fp[0] == 0 and fp[1] == 0 and fp[2] != 0
    assert language_id(docs).count() == 3


def test_null_text_degrades_gracefully(spark):
    docs = spark.createDataFrame(
        [(0, None, 0), (1, "hello world text", 16)], DOCS_SCHEMA
    )
    # scalar ops keep the null row (null/0 outputs); pair/sample ops drop it
    assert token_counts(docs).count() == 2
    assert doc_fingerprint(docs).count() == 2
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0
    assert simhash_pairs(docs).count() == 0


def test_new_text_ops_empty(spark, empty_docs):
    from flink_kmeans_clustering_spark.operators.textstats import (
        repetition_stats,
        tfidf_top_terms,
    )

    assert repetition_stats(empty_docs, n=2).count() == 0
    assert tfidf_top_terms(empty_docs, k=5).count() == 0


def test_decontam_empty_sides(spark, empty_docs):
    from flink_kmeans_clustering_spark.operators.dedup import benchmark_overlap

    docs = spark.createDataFrame([(1, "a b c", 5)], DOCS_SCHEMA)
    # empty benchmark -> nothing flagged; empty corpus -> nothing flagged
    assert benchmark_overlap(docs, empty_docs, n=2).count() == 0
    assert benchmark_overlap(empty_docs, docs, n=2).count() == 0


def test_ann_lsh_empty(spark):
    from flink_kmeans_clustering_spark.operators.similarity import ann_lsh

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ann_lsh(empty, [0.5] * 8, k=5, n_planes=2).count() == 0


def test_relational_window_ops_empty(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        customer_order_distribution,
        daily_revenue_delta,
        monthly_order_ranks,
    )

    empty_orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_orderpriority string, "
        "o_totalprice double, o_orderdate timestamp"
    )
    empty_li = spark.createDataFrame(
        [], "l_extendedprice double, l_discount double, l_shipdate timestamp"
    )
    empty_cust = spark.createDataFrame([], "c_custkey long")
    assert monthly_order_ranks(empty_orders).count() == 0
    assert daily_revenue_delta(empty_li).count() == 0
    assert customer_order_distribution(empty_cust, empty_orders).count() == 0


def test_pack_offsets_empty(spark, empty_docs):
    from flink_kmeans_clustering_spark.operators.packing import pack_offsets

    assert pack_offsets(empty_docs).count() == 0


def test_round3_relational_ops_empty(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        profile_columns,
        stats_by_flag,
        upsert_customer_balances,
    )

    empty_li = spark.createDataFrame(
        [],
        "l_quantity double, l_extendedprice double, l_discount double,"
        " l_returnflag string, l_shipdate timestamp",
    )
    assert stats_by_flag(empty_li).count() == 0
    # profile over zero rows still yields one row per column (all-null mins)
    rows = profile_columns(empty_li).collect()
    assert len(rows) == 5 and all(r["n_rows"] == 0 for r in rows)
    empty_cust = spark.createDataFrame(
        [], "c_custkey long, c_name string, c_acctbal double, c_mktsegment string"
    )
    empty_orders = spark.createDataFrame([], "o_custkey long, o_totalprice double")
    assert upsert_customer_balances(empty_cust, empty_orders).count() == 0


def test_round3_text_and_dedup_ops_empty(spark, empty_docs):
    from flink_kmeans_clustering_spark.operators.dedup import (
        dedup_corpus,
        fuzzy_name_pairs,
    )
    from flink_kmeans_clustering_spark.operators.events import first_event_per_day
    from flink_kmeans_clustering_spark.operators.textstats import source_token_drift

    empty_named = spark.createDataFrame([], "pk long, name string")
    assert fuzzy_name_pairs(empty_named, "name", "pk").count() == 0
    empty_comp = spark.createDataFrame([], "doc_id long, component_id long")
    assert dedup_corpus(empty_docs, empty_comp).count() == empty_docs.count()
    empty_ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, event_type string, value double"
    )
    assert first_event_per_day(empty_ev).count() == 0
    docs_with_source = spark.createDataFrame([], "doc_id long, source string, text string")
    assert source_token_drift(docs_with_source).count() == 0


def test_band_join_empty_events(spark):
    from flink_kmeans_clustering_spark.operators.events import band_join_bucketed

    empty = spark.createDataFrame([], "value double")
    assert band_join_bucketed(empty).count() == 0


def test_mixture_sample_guards_and_empty(spark):
    import pytest
    from flink_kmeans_clustering_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame([], "doc_id long, source string")
    # empty input: no strata observed -> empty output, no error
    assert mixture_sample(docs, "source", {"a": 1.0}, "doc_id").count() == 0
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(docs, "source", {"a": -1.0}, "doc_id")
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(docs, "source", {}, "doc_id")
    # no overlap between targets and observed strata -> empty
    some = spark.createDataFrame([(1, "x")], "doc_id long, source string")
    assert mixture_sample(some, "source", {"y": 1.0}, "doc_id").count() == 0


def test_synth_partsupp_requires_four_suppliers(spark):
    import pytest
    from flink_kmeans_clustering_spark.operators.relational import synth_partsupp

    part = spark.createDataFrame([(0,)], "p_partkey long")
    supp = spark.createDataFrame([(0,), (1,)], "s_suppkey long")
    with pytest.raises(ValueError, match="4 suppliers"):
        synth_partsupp(part, supp)


def test_cc_star_empty_pairs(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        _cc_star,
        connected_components,
    )

    pairs = spark.createDataFrame([], "src long, dst long")
    labels, _ = _cc_star(pairs.localCheckpoint(), max_iterations=50)
    assert labels.collect() == []
    assert connected_components(pairs, id_a="src", id_b="dst").collect() == []


def test_r05_text_ops_empty_and_degenerate_inputs(spark):
    """The round-5 text/sketch operators on empty corpora and
    token-less documents: typed empty results, never errors."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        kmv_distinct,
        sampled_quantiles,
    )
    from flink_kmeans_clustering_spark.operators.textstats import (
        pii_redact,
        quality_classifier,
        segment_boilerplate_removal,
        shingle_novelty,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert shingle_novelty(empty).count() == 0
    assert segment_boilerplate_removal(empty).count() == 0
    assert pii_redact(empty).count() == 0
    assert quality_classifier(empty).count() == 0

    # token-less docs: novelty/segments emit no row (no shingle set),
    # redact/classifier still emit one row per doc
    blank = spark.createDataFrame(
        [(0, ""), (1, "   .,;!")], "doc_id long, text string"
    )
    assert shingle_novelty(blank).count() == 0
    assert segment_boilerplate_removal(blank).count() == 0
    assert pii_redact(blank).count() == 2
    assert quality_classifier(blank).count() == 2

    ev = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, value double"
    )
    assert kmv_distinct(ev, "user_id", "event_type").count() == 0
    assert sampled_quantiles(ev, "value", "event_id", "event_type").count() == 0


def test_validate_expectations_empty_drop_gives_explicit_verdicts(spark):
    """An EMPTY drop is exactly the case a data-quality circuit breaker
    must decide on: every check must emit n_violations=0 / passed=true,
    never NULL (SUM over zero rows is NULL without the coalesce)."""
    from flink_kmeans_clustering_spark.operators.relational import (
        validate_expectations,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = validate_expectations(
        empty,
        [("not_null(doc_id)", F.col("doc_id").isNull())],
        unique_cols=("doc_id",),
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_rows"] == 0
        assert r["n_violations"] == 0
        assert r["passed"] is True


def test_vocab_coverage_empty_corpus_emits_zero_rows(spark):
    """Empty corpus → zero rows (the DuckDB oracle's CROSS JOIN against
    an empty ranked CTE emits none), not NULL-filled target rows."""
    from flink_kmeans_clustering_spark.operators.textstats import vocab_coverage

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = vocab_coverage(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "coverage", "vocab_size", "total_tokens",
    ]


def test_quality_classifier_null_text_scores_as_empty(spark):
    """NULL text is pinned to score exactly like '' — engine-independent
    (legacy sizeOfNull would otherwise make len_norm negative)."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [(0, None), (1, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    assert rows[0]["n_words"] == 0
    assert rows[0]["p_keep"] == rows[1]["p_keep"]
    assert rows[0]["p_keep"] is not None and rows[0]["p_keep"] >= 0.0


def test_power_iterate_degenerate_zero_matrix(spark):
    """Constant embeddings → zero covariance: the power iteration must
    not divide by zero; pca_project_checked stays total on degenerate
    corpora."""
    from flink_kmeans_clustering_spark.operators.linalg import _power_iterate

    dim = 4
    zero = [[0.0] * dim for _ in range(dim)]
    v = _power_iterate(zero, iters=5)
    assert len(v) == dim
    assert all(x == 0.125 for x in v)  # start vector survives unchanged


def test_round6_new_ops_empty(spark, empty_docs, empty_events):
    """The round-6 operator wave degrades to empty results on empty
    input (NULL-text and zero-row slices are routine at scale)."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        pair_cosine_histogram,
        repeated_span_profile,
    )
    from flink_kmeans_clustering_spark.operators.events import (
        journey_transitions,
        rfm_segments,
    )
    from flink_kmeans_clustering_spark.operators.sampling import (
        token_budget_sample,
    )
    from flink_kmeans_clustering_spark.operators.similarity import (
        hard_negative_mining,
    )
    from flink_kmeans_clustering_spark.operators.textstats import (
        source_datacard,
    )

    docs2 = empty_docs.withColumn("source", F.lit("s")).withColumn(
        "lang", F.lit("en")
    )
    assert repeated_span_profile(empty_docs).count() == 0
    assert token_budget_sample(docs2, budget=10).count() == 0
    assert source_datacard(docs2).count() == 0
    assert journey_transitions(empty_events).count() == 0
    from flink_kmeans_clustering_spark.operators.events import (
        type_cooccurrence,
    )

    assert type_cooccurrence(empty_events).count() == 0
    assert rfm_segments(empty_events).count() == 0
    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    )
    assert pair_cosine_histogram(empty_emb).count() == 0
    assert (
        hard_negative_mining(empty_emb, empty_emb, query_id_col="vec_id").count()
        == 0
    )
    # NULL text must not crash the span profiler (no windows, zeros out)
    nulls = spark.createDataFrame(
        [(1, None, 0)], DOCS_SCHEMA
    )
    [r] = repeated_span_profile(nulls).collect()
    assert r["n_spans"] == 0 and r["repeat_frac"] == 0.0


def test_wave5_ops_empty(spark, empty_docs, empty_events):
    from flink_kmeans_clustering_spark.operators.events import (
        cohort_retention,
        last_touch_attribution,
        top_paths,
    )
    from flink_kmeans_clustering_spark.operators.textstats import (
        langid_confusion,
    )

    assert cohort_retention(empty_events).count() == 0
    assert top_paths(empty_events).count() == 0
    assert last_touch_attribution(empty_events).count() == 0
    docs2 = empty_docs.withColumn("lang", F.lit("en"))
    assert langid_confusion(docs2).count() == 0


# --- round-8 operators -------------------------------------------------------

R08_DOCS_SCHEMA = "doc_id long, text string, source string"


def test_png_pipeline_empty_docs(spark):
    from flink_kmeans_clustering_spark.operators.multimodal import (
        features_rounded,
        png_features,
        png_pack_assets,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = features_rounded(png_features(png_pack_assets(empty)))
    assert out.count() == 0


def test_matryoshka_empty_corpus_and_empty_queries(spark):
    from flink_kmeans_clustering_spark.operators.similarity import (
        matryoshka_recall,
    )

    schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    some = spark.createDataFrame([(0, [1.0, 0.0])], schema)
    q = some.select(F.col("vec_id").alias("query_id"), "embedding")
    eq = empty.select(F.col("vec_id").alias("query_id"), "embedding")
    # empty corpus: the query spine still emits (dims, query) rows
    # with zero hits — the spine is the contract
    rows = matryoshka_recall(empty, q, k=2, dims_levels=(1, 2)).collect()
    assert len(rows) == 2 and all(r["n_hits"] == 0 for r in rows)
    # empty query batch: nothing to report
    assert matryoshka_recall(some, eq, k=2, dims_levels=(1, 2)).count() == 0


def test_salted_join_empty_sides(spark):
    from flink_kmeans_clustering_spark.operators.relational import salted_join

    fact = spark.createDataFrame([], "event_id long, k string, v double")
    dim = spark.createDataFrame([("hot", 2.0)], "k string, rate double")
    assert salted_join(fact, dim, "k", "event_id").count() == 0
    fact2 = spark.createDataFrame(
        [(1, "hot", 1.0)], "event_id long, k string, v double"
    )
    dim2 = spark.createDataFrame([], "k string, rate double")
    assert salted_join(fact2, dim2, "k", "event_id").count() == 0


def test_bloom_prefilter_empty_benchmark_and_probe(spark):
    from flink_kmeans_clustering_spark.operators.dedup import bloom_prefilter

    empty = spark.createDataFrame([], R08_DOCS_SCHEMA)
    probe = spark.createDataFrame([(1, "alpha beta", "web")], R08_DOCS_SCHEMA)
    # empty benchmark -> empty filter: zero bloom AND zero exact hits,
    # but the probe's shingles are still counted
    [r] = bloom_prefilter(probe, empty, n=1).collect()
    assert (r["bloom_hits"], r["exact_hits"], r["n_shingles"]) == (0, 0, 2)
    # empty probe -> no rows
    bench = spark.createDataFrame([(0, "alpha", "b")], R08_DOCS_SCHEMA)
    assert bloom_prefilter(empty, bench, n=1).count() == 0


def test_cross_source_overlap_empty_and_single_source(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        cross_source_overlap,
    )

    empty = spark.createDataFrame([], R08_DOCS_SCHEMA)
    assert cross_source_overlap(empty).count() == 0
    one = spark.createDataFrame([(1, "x", "only")], R08_DOCS_SCHEMA)
    # a single source has no pairs — empty matrix, not a crash
    assert cross_source_overlap(one).count() == 0


def test_bbit_minhash_empty_docs(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        bbit_minhash_report,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bbit_minhash_report(empty).count() == 0


def test_neyman_empty_input(spark):
    from flink_kmeans_clustering_spark.operators.sampling import (
        neyman_allocation_sample,
    )

    empty = spark.createDataFrame(
        [], "event_id long, event_type string, value double"
    )
    assert (
        neyman_allocation_sample(empty, "event_type", "value").count() == 0
    )


def test_spherical_kmeans_empty_and_all_zero(spark):
    from flink_kmeans_clustering_spark.operators.kmeans import (
        spherical_kmeans_nd,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents, ids = spherical_kmeans_nd(empty, [[1.0, 0.0]], max_iterations=1)
    assert cents == [] and ids == []
    zeros = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents, ids = spherical_kmeans_nd(zeros, [[1.0, 0.0]], max_iterations=1)
    assert cents == [] and ids == []
