"""Physical-plan shape regressions (the 100 TB guardrails).

These tests pin planner properties the correctness oracle cannot see:
filters reaching the parquet scan, pruned read schemas, broadcast joins
for dimension tables, shuffle-count budgets, and top-k plans that never
global-sort.  A failure here means a change made the engine *slower at
scale*, not wrong at sf0.01.
"""

from __future__ import annotations

import pytest

from flink_kmeans_clustering_spark.operators.dedup import exact_duplicate_groups
from flink_kmeans_clustering_spark.operators.events import (
    sessionize,
    top_events_per_user,
    tumbling_window_agg,
)
from flink_kmeans_clustering_spark.operators.kmeans import (
    assign_points,
    update_centroids,
)
from flink_kmeans_clustering_spark.operators.relational import (
    local_supplier_volume,
    pricing_summary,
    shipping_priority,
)
from flink_kmeans_clustering_spark.operators.similarity import topk_cosine
from flink_kmeans_clustering_spark.operators.textstats import token_frequencies
from flink_kmeans_clustering_spark.plans import (
    assert_has_node,
    assert_max_shuffles,
    explain_str,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
from flink_kmeans_clustering_spark.sources.parquet import load_events, load_table
from flink_kmeans_clustering_spark.views import centroids_v, points_v

SF = "/root/testdata/sf0.01"
SF_CORRECTNESS = SF


def test_pricing_filter_pushed_and_schema_pruned(spark):
    df = pricing_summary(load_table(spark, "lineitem", SF))
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed!r}"
    [schema] = read_schemas(df)
    # the 16-column lineitem scan must shrink to only the 7 used columns
    assert "l_comment" not in schema and "l_orderkey" not in schema
    assert_max_shuffles(df, 1)  # single partial+final hash aggregate


def test_shipping_priority_broadcasts_dims_and_topk(spark):
    df = shipping_priority(
        load_table(spark, "customer", SF),
        load_table(spark, "orders", SF),
        load_table(spark, "lineitem", SF),
    )
    assert_has_node(df, "BroadcastHashJoin")
    # top-10 via TakeOrderedAndProject: no global sort, no full Exchange
    assert_has_node(df, "TakeOrderedAndProject")
    assert_max_shuffles(df, 2)


def test_local_supplier_one_shuffle_five_broadcast_joins(spark):
    df = local_supplier_volume(
        *[
            load_table(spark, t, SF)
            for t in ("region", "nation", "customer", "supplier", "orders", "lineitem")
        ]
    )
    assert explain_str(df).count("(") and "BroadcastHashJoin" in explain_str(df)
    # all five joins broadcast at this SF; only the final groupBy shuffles.
    # (at 100 TB orders⋈lineitem upgrades to a shuffle join — budget 3)
    assert_max_shuffles(df, 3)


def test_assignment_is_shuffle_free(spark):
    df = assign_points(points_v(spark, SF), centroids_v(spark, SF))
    assert shuffle_count(df) == 0, "argmin assignment must stay narrow"


def test_param_assignment_is_shuffle_free(spark):
    df = assign_points(points_v(spark, SF), centroids_v(spark, SF))
    assert shuffle_count(df) == 0, "plan-stable assignment must stay narrow"
    assert "Join" not in explain_str(df), "centroids must not enter via a join"


def _codegen_body(df) -> str:
    """Generated whole-stage code with comments and plan header stripped.

    Comments carry expression IDs that legitimately differ between two
    otherwise identical plans; the *body* is what Janino's cache keys on
    (CodeAndComment equality), so the body is what we compare.
    """
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    lines = []
    for ln in buf.getvalue().splitlines():
        s = ln.strip()
        if s.startswith(("*", "+-", ":", "==")):
            continue
        # drop the per-line "/* 001 */" prefix and inline comments
        code = re.sub(r"/\*.*?\*/", "", ln)
        code = re.sub(r"//.*$", "", code).rstrip()
        if code.strip():
            lines.append(code)
    return "\n".join(lines)


def test_param_assignment_codegen_is_value_independent(spark):
    """The whole point of assign_points' array-literal centroids: two
    different centroid sets must generate byte-identical stage code
    (Janino cache hit per Lloyd superstep)."""
    from flink_kmeans_clustering_spark.operators.kmeans import update_centroids as upd

    pts = points_v(spark, SF)
    c1 = [(0, 0.0, 0.0), (1, 10.0, 10.0)]
    c2 = [(0, 3.25, -7.5), (1, 42.0, 0.125)]
    # under AQE, explain("codegen") shows no subtrees until execution —
    # plan without it, exactly as lloyd() does during the loop
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        body_a = _codegen_body(upd(assign_points(pts, c1)))
        body_b = _codegen_body(upd(assign_points(pts, c2)))
        assert "WholeStageCodegen" in body_a or len(body_a.splitlines()) > 10
        assert body_a == body_b, "assignment stage code must not embed centroid values"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_update_is_single_shuffle(spark):
    assigned = assign_points(points_v(spark, SF), centroids_v(spark, SF))
    assert_max_shuffles(update_centroids(assigned), 1)


def test_tumbling_window_single_shuffle(spark):
    assert_max_shuffles(tumbling_window_agg(load_events(spark, SF)), 1)


def test_sessionize_reuses_one_exchange(spark):
    # lag + running sum + grouped agg all share one hash-partition by user
    assert_max_shuffles(sessionize(load_events(spark, SF)), 1)


def test_top_events_uses_window_group_limit(spark):
    df = top_events_per_user(load_events(spark, SF), k=3)
    # rank-filter pushdown: executors keep only top-k per key before the
    # shuffle instead of materializing every row under the window
    assert_has_node(df, "WindowGroupLimit")
    assert_max_shuffles(df, 1)


def test_exact_dedup_single_shuffle(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert_max_shuffles(exact_duplicate_groups(docs, ["text"]), 1)


def test_topk_cosine_no_shuffle_no_sort(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").head()["embedding"])
    df = topk_cosine(emb, [0.0] * dim, k=10)
    assert_has_node(df, "TakeOrderedAndProject")
    assert shuffle_count(df) == 0, "brute-force top-k must not shuffle"


def test_token_frequencies_single_shuffle(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert_max_shuffles(token_frequencies(docs, top_n=100), 1)


def test_asof_join_single_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.events import asof_join

    df = asof_join(load_events(spark, SF), "purchase", "view")
    # union-and-carry: one hash shuffle by user feeds the window; the
    # right-side pre-aggregation adds at most one more
    assert_max_shuffles(df, 2)


def test_cube_single_expand_aggregate(spark):
    from flink_kmeans_clustering_spark.operators.events import type_date_cube

    df = type_date_cube(load_events(spark, SF))
    assert_has_node(df, "Expand")
    assert_max_shuffles(df, 1)


def test_running_window_single_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.events import running_user_window

    assert_max_shuffles(running_user_window(load_events(spark, SF)), 1)


def test_sample_filter_is_narrow(spark):
    from flink_kmeans_clustering_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = deterministic_sample(docs, "text", rate=1 / 16)
    assert shuffle_count(df) == 0, "hash sampling must stay a narrow filter"


def test_custdist_two_shuffles(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        customer_order_distribution,
    )

    d = customer_order_distribution(
        load_table(spark, "customer", SF), load_table(spark, "orders", SF)
    )
    # join exchanges (c_custkey / o_custkey); both groupBys reuse the
    # join partitioning (first on the same key, second over O(1) rows)
    assert_max_shuffles(d, 2)


def test_trade_volume_single_shuffle_all_dims_broadcast(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        nation_trade_volume,
    )

    v = nation_trade_volume(
        load_table(spark, "nation", SF),
        load_table(spark, "customer", SF),
        load_table(spark, "supplier", SF),
        load_table(spark, "orders", SF),
        load_table(spark, "lineitem", SF),
    )
    # one shuffle for the final triple-key aggregate; every join
    # (incl. orders/customer via AQE) broadcasts at this scale
    assert_max_shuffles(v, 1)
    assert "BroadcastHashJoin" in explain_str(v)


def test_big_orders_single_shuffle_topk(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        large_quantity_orders,
    )

    b = large_quantity_orders(
        load_table(spark, "customer", SF),
        load_table(spark, "orders", SF),
        load_table(spark, "lineitem", SF),
    )
    # one shuffle for the l_orderkey aggregate; the join back shares the
    # key, customer broadcasts, and top-k never global-sorts
    assert_max_shuffles(b, 1)
    assert_has_node(b, "TakeOrderedAndProject")


def test_monthly_ranks_single_window_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        monthly_order_ranks,
    )

    r = monthly_order_ranks(load_table(spark, "orders", SF))
    # all four ranking functions share one month-partition exchange +
    # one in-partition sort.  (WindowGroupLimit cannot apply: ntile and
    # lag need the full partition — the bounded-memory top-k alternative
    # is events.top_events_per_user.)
    assert_max_shuffles(r, 1)


def test_day_delta_aggregate_then_tiny_window(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        daily_revenue_delta,
    )

    d = daily_revenue_delta(load_table(spark, "lineitem", SF))
    # shuffle 1: day aggregate (input-scale);  shuffle 2: the lag
    # window's single partition — O(days) rows regardless of input size
    assert_max_shuffles(d, 2)


def test_repetition_stats_zero_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # every metric is row-local: a narrow map over the scan, no Exchange
    assert shuffle_count(repetition_stats(docs, n=2)) == 0


def test_tfidf_bounded_memory_rank(spark):
    from flink_kmeans_clustering_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = tfidf_top_terms(docs, k=5)
    # rank is the only window function -> per-group top-k heap, not a
    # full-partition buffer
    assert_has_node(d, "WindowGroupLimit")
    # static plan: tf agg (appears twice pre-ReuseExchange: join probe +
    # dfreq input — deduplicated at runtime), dfreq agg (vocab-sized),
    # 1-row N count, rank window.  df/N come back as broadcasts.
    assert_max_shuffles(d, 5)


def test_benchmark_overlap_corpus_never_shuffled(spark):
    from flink_kmeans_clustering_spark.operators.dedup import benchmark_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.limit(10)
    d = benchmark_overlap(docs, bench, n=8)
    s = explain_str(d)
    assert "BroadcastHashJoin" in s or "BroadcastExchange" in s
    # the only exchange is the per-doc aggregation of matching rows
    # (benchmark-side distinct is over broadcast-scale data)
    assert shuffle_count(d) <= 2


def test_partitioned_sink_readback_prunes_partitions(spark, tmp_path):
    from flink_kmeans_clustering_spark.sinks.parquet import write_partitioned

    ev = load_events(spark, SF)
    out = str(tmp_path / "ev_by_type")
    write_partitioned(ev, out, ["event_type"], sort_within_by=["ts"])
    back = spark.read.parquet(out).filter(
        "event_type in ('click', 'view')"
    )
    s = explain_str(back)
    # the filter lands in the scan's PartitionFilters (directory
    # pruning), not a post-scan Filter over all partitions
    assert "PartitionFilters" in s and "event_type" in s.split("PartitionFilters", 1)[1][:200]


def test_ivf_cell_layout_probe_is_partition_pruned(spark, tmp_path):
    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_search,
        cell_centroids,
    )
    from flink_kmeans_clustering_spark.sinks.parquet import write_partitioned

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = str(tmp_path / "emb_by_cell")
    write_partitioned(emb, out, ["label"])
    table = spark.read.parquet(out)
    cents = [
        (r["cell"], list(r["centroid"]))
        for r in cell_centroids(emb, "label").collect()
    ]
    q = [0.0] * 64
    [row] = emb.filter("vec_id = 0").select("embedding").collect()
    q = [float(v) for v in row["embedding"]]
    d = ann_search(table, cents, q, k=5, n_probe=2)
    s = explain_str(d)
    # the isin(probed cells) filter is satisfied by directory pruning on
    # the cell-partitioned layout — the 100 TB IVF probe story
    assert "PartitionFilters" in s and "label" in s.split("PartitionFilters", 1)[1][:200]
    # and the whole probe+topk is shuffle-free (TakeOrderedAndProject)
    assert shuffle_count(d) == 0


def test_two_stage_dedup_corpus_not_shuffled(spark):
    from flink_kmeans_clustering_spark.operators.dedup import two_stage_dedup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    d = two_stage_dedup_pairs(docs, emb)
    s = explain_str(d)
    # candidates broadcast into both text lookups: the docs scans join
    # via BroadcastHashJoin, never a shuffled-hash/sort-merge exchange
    # of the corpus
    assert s.count("BroadcastHashJoin") >= 2
    # remaining exchanges belong to the candidate generation only (the
    # blocked embedding self-join), not the docs table
    assert "SortMergeJoin" not in s


def test_rel_forecast_all_predicates_pushed(spark):
    from flink_kmeans_clustering_spark.operators.relational import revenue_forecast
    from flink_kmeans_clustering_spark.plans.introspect import pushed_filters

    d = revenue_forecast(load_table(spark, "lineitem", SF))
    pf = " ".join(pushed_filters(d))
    # every predicate reaches the parquet reader: row-group pruning on
    # all three columns, no post-scan residual doing the heavy lifting
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    # scan + 1-row global agg only — the cheapest possible shape
    assert_max_shuffles(d, 1)


def test_rel_promo_single_pass_broadcast(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        promo_revenue_share,
    )

    d = promo_revenue_share(
        load_table(spark, "lineitem", SF), load_table(spark, "part", SF)
    )
    s = explain_str(d)
    # part broadcasts; numerator+denominator come from ONE aggregation
    # over the join (a second scan/join would double the plan)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    from flink_kmeans_clustering_spark.plans.introspect import read_schemas

    assert len(read_schemas(d)) == 2  # lineitem + part, each scanned once
    assert_max_shuffles(d, 1)


def test_rel_mktshare_only_fact_join_shuffles(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        nation_market_share,
    )

    d = nation_market_share(
        *[
            load_table(spark, t, SF)
            for t in (
                "region",
                "nation",
                "customer",
                "supplier",
                "orders",
                "lineitem",
                "part",
            )
        ]
    )
    s = explain_str(d)
    # every dimension broadcasts — no sort-merge join anywhere in the
    # seven-table tree; shuffles: orders⋈lineitem + the yearly agg
    # (+ customer join upgrades from broadcast at real scale)
    assert "SortMergeJoin" not in s


def test_grouping_sets_single_expand_single_agg_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        revenue_grouping_sets,
    )

    d = revenue_grouping_sets(
        load_table(spark, "lineitem", SF),
        load_table(spark, "orders", SF),
        load_table(spark, "customer", SF),
        load_table(spark, "nation", SF),
        load_table(spark, "region", SF),
    )
    s = explain_str(d)
    # the three grouping sets ride ONE Expand (never three scans/unions);
    # formatted explain prints each node twice (tree + details)
    import re

    assert len(re.findall(r"\(\d+\) Expand", s)) == 1
    # dimension chain broadcast; the only exchanges are the fact join
    # and the grouped aggregate
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_profile_branches_scan_single_columns(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        PROFILE_COLS,
        profile_columns,
    )

    d = profile_columns(load_table(spark, "lineitem", SF))
    schemas = read_schemas(d)
    # each union branch reads exactly its own pruned column
    singles = [s for s in schemas if s.count(":") == 1]
    assert len(singles) == len(PROFILE_COLS)


def test_events_first_is_aggregate_not_window(spark):
    from flink_kmeans_clustering_spark.operators.events import first_event_per_day

    d = first_event_per_day(load_events(spark, SF))
    s = explain_str(d)
    # struct-min aggregate: no Window/sort buffering whole partitions
    assert "Window" not in s
    assert_max_shuffles(d, 1)


def test_fuzzy_pairs_no_cartesian(spark):
    from flink_kmeans_clustering_spark.operators.dedup import fuzzy_name_pairs

    d = fuzzy_name_pairs(load_table(spark, "part", SF), "p_name", "p_partkey")
    s = explain_str(d)
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    # distinct-domain agg + blocked equi self-join
    assert_max_shuffles(d, 3)


def test_upsert_is_one_full_outer_join(spark):
    from flink_kmeans_clustering_spark.operators.relational import (
        upsert_customer_balances,
    )

    d = upsert_customer_balances(
        load_table(spark, "customer", SF), load_table(spark, "orders", SF)
    )
    s = explain_str(d)
    assert "FullOuter" in s
    # change-batch aggregate + the merge join; nothing else shuffles
    assert_max_shuffles(d, 3)


def test_dedup_corpus_broadcasts_components(spark):
    from flink_kmeans_clustering_spark.operators.dedup import dedup_corpus

    docs = load_table(spark, "documents", SF)
    comp = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, component_id long"
    )
    d = dedup_corpus(docs, comp)
    s = explain_str(d)
    # corpus side never shuffles: the components join is broadcast
    assert "BroadcastHashJoin" in s
    assert shuffle_count(d) == 0


def test_bucketed_join_no_exchange_below_join(spark):
    """The 100 TB co-located-join story: both sides bucketed on the
    join key -> SMJ with ZERO Exchange under it.  Broadcast is forced
    off because at test scale AQE (correctly) prefers a broadcast —
    the bucketed layout is exactly for the sizes where it can't."""
    import re

    import __spark_entry__ as entrymod

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = entrymod.q_sink_bucketed(spark, SF)
        s = explain_str(d)
        assert "SortMergeJoin" in s
        assert "Bucketed: true" in s
        # the ONLY exchange in the whole plan is the final group-by —
        # neither join side shuffles (that IS the bucketed layout).
        # Per-bucket Sorts remain: Spark 3+ ignores bucket-file sort
        # order by default (SPARK-28595) — local O(bucket log bucket)
        # work, zero network, so the scale property is intact.
        assert shuffle_count(d) == 1
        assert len(re.findall(r"\(\d+\) Sort\b", s)) == 2  # one per side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_event_runs_single_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.events import event_type_runs

    # both windows and the final aggregate share one user-hash exchange
    assert_max_shuffles(event_type_runs(load_events(spark, SF)), 1)


def test_band_join_is_hash_join_not_nested_loop(spark):
    from flink_kmeans_clustering_spark.operators.events import band_join_bucketed

    d = band_join_bucketed(load_events(spark, SF))
    s = explain_str(d)
    # the whole point of the bucket rewrite: an equi probe, never a
    # per-(row, band) nested loop
    assert "BroadcastNestedLoopJoin" not in s and "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_knn_join_broadcasts_queries_and_bounds_window(spark):
    """The k-NN join must broadcast the query batch (corpus scanned
    once, no shuffle for the join) and rank through WindowGroupLimit
    (per-partition top-k before the only exchange)."""
    from flink_kmeans_clustering_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = knn_join(
        emb.filter("vec_id >= 5"),
        emb.filter("vec_id < 5"),
        k=5,
        query_id_col="vec_id",
    )
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert_has_node(df, "WindowGroupLimit")
    # one exchange for the window partitioning; the broadcast is free
    assert_max_shuffles(df, 1)


def test_gram_exchange_is_dim_squared_not_corpus(spark):
    """XᵀX: the only exchange sits ABOVE the mapInPandas partials —
    O(partitions·dim²) rows — never below it (which would shuffle the
    corpus)."""
    from flink_kmeans_clustering_spark.operators.linalg import gram_matrix

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = gram_matrix(emb, dim=64)
    plan = explain_str(df)
    assert shuffle_count(df) == 1
    # partial-GEMM (ArrowEvalPython/MapInPandas) must run BEFORE the
    # exchange in the plan tree (parquet scan side)
    import re

    ex = plan.find("Exchange")
    mip = max(plan.find("MapInPandas"), plan.find("ArrowEvalPython"))
    assert mip != -1, f"no Arrow map stage in plan:\n{plan}"
    # formatted explain lists children below parents: the map stage
    # appears after the exchange textually, meaning it is the child
    assert ex != -1 and mip > ex


def test_weighted_sample_is_take_ordered(spark):
    from flink_kmeans_clustering_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = weighted_sample(docs, "doc_id", "n_chars", k=20)
    assert_has_node(df, "TakeOrderedAndProject")
    assert shuffle_count(df) == 0


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The skew-join config in session.py must actually fire: a join
    with one pathological hot key gets its skewed partition split at
    runtime (executedPlan shows the skew=true SMJ marker).  This is
    the runtime half of the 100 TB skew story (salting is the static
    half, pinned by the q_salted_* tests)."""
    import pyspark.sql.functions as SF

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # the downstream agg means splitting adds a shuffle; production
        # flips this knob when the skew cost exceeds the extra exchange
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # 90% of rows on key 0, with a UNIQUE string payload that (a)
        # survives column pruning into the shuffle (the agg reads it)
        # and (b) doesn't compress away — skew stats are COMPRESSED
        # map-output sizes, and a partition of constant longs lz4-packs
        # under any threshold (found the hard way)
        left = spark.range(0, 500_000).select(
            SF.when(SF.col("id") % 10 != 0, SF.lit(0))
            .otherwise(SF.col("id") % 50)
            .alias("k"),
            SF.concat(SF.lit("payload-xxxxxxxxxxxxxxxx-"), SF.col("id")).alias(
                "payload"
            ),
        )
        right = spark.range(0, 50).select(
            SF.col("id").alias("k"), SF.lit("dim").alias("name")
        )
        joined = (
            left.join(right, "k")
            .groupBy("name")
            .agg(SF.sum(SF.length("payload")).alias("bytes"))
        )
        joined.collect()  # AQE decisions exist only after execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew split did not fire:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_key_bit_interleave(spark):
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.functions.zorder import zorder_key

    df = spark.createDataFrame([(3, 1), (0, 0), (5, 2)], "x long, y long")
    got = [
        r["z"]
        for r in df.select(
            zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
        ).collect()
    ]

    def morton(x, y):
        z = 0
        for b in range(4):
            z |= ((x >> b) & 1) << (2 * b)      # dim 0 -> even positions
            z |= ((y >> b) & 1) << (2 * b + 1)  # dim 1 -> odd positions
        return z

    assert got == [morton(3, 1), morton(0, 0), morton(5, 2)]


def test_zorder_layout_prunes_time_boxes_user_sort_cannot(spark, tmp_path):
    """The measurable Z-order claim: for a box filter that constrains
    the SECOND dimension (time), fewer written files' min/max ranges
    overlap the box under Z-order clustering than under a plain
    user-sorted layout (where every file spans the full time range).
    File footer stats are exactly what a parquet reader prunes with."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.functions.zorder import zorder_key
    from flink_kmeans_clustering_spark.sinks.parquet import write_zordered
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.01").select(
        "user_id",
        F.floor(
            (F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(3600000000)
        ).alias("h"),
        "value",
    )
    zpath, upath = str(tmp_path / "zorder"), str(tmp_path / "usersort")
    write_zordered(
        ev, zpath, zorder_key([F.col("user_id"), F.col("h")], bits=16), n_files=16
    )
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(upath)
    )

    def overlapping(path, lo_h, hi_h):
        import os

        n = 0
        for root, _, files in os.walk(path):
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, fname)).metadata
                idx = next(
                    i
                    for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == "h"
                )
                mn = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                mx = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                if mx >= lo_h and mn <= hi_h:
                    n += 1
        return n

    # a 12-hour box: user-sorted files all span the full time range
    z_hits = overlapping(zpath, 0, 11)
    u_hits = overlapping(upath, 0, 11)
    assert z_hits < u_hits, f"zorder {z_hits} !< usersort {u_hits}"


def test_prefix_join_no_cartesian_and_verify_is_candidate_bounded(spark):
    """The prefix-filter join must never plan a cartesian/unconditioned
    self-join of the corpus: the only self-join key is the prefix
    shingle, and verification joins candidates to the (checkpointed)
    per-doc set table by id."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = ngram_jaccard_pairs_prefix(docs, n=3, threshold=0.5)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_observation_metrics_ride_the_job(spark):
    """Data-quality counters via df.observe(): null counts / row counts
    / sums are collected DURING the one pass the query already makes —
    at 100 TB this is the difference between free quality telemetry and
    doubling the scan.  Pinned: the observed values equal separately
    computed aggregates."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ev = load_events(spark, SF)
    obs = Observation("quality")
    out = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.min("value").alias("min_value"),
    ).groupBy("event_type").count()
    out.collect()  # one action drives both the query and the metrics
    got = obs.get
    [want] = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("long")).alias("nn"),
        F.min("value").alias("mv"),
    ).collect()
    assert got["n_rows"] == want["n"]
    assert got["n_null_value"] == (want["nn"] or 0)
    assert got["min_value"] == want["mv"]


def test_dpp_prunes_fact_partitions_dynamically(spark):
    """q_rel_dpp's fact scan must carry a dynamicpruning expression in
    its PartitionFilters AND no statically folded priority list — the
    qualifying priorities are a runtime aggregate, so only DPP can
    shrink the scan."""
    import __spark_entry__ as em

    df = em.q_rel_dpp(spark, SF)
    plan = explain_str(df)
    assert "dynamicpruning" in plan, plan[:1500]
    assert "IN (1-URGENT" not in plan  # nothing foldable to static


def test_synth_partsupp_is_narrow(spark):
    """The synthesized partsupp must be a pure projection of the part
    scan — zero exchanges (the supplier count is driver metadata)."""
    from flink_kmeans_clustering_spark.operators.relational import synth_partsupp

    ps = synth_partsupp(
        load_table(spark, "part", SF), load_table(spark, "supplier", SF)
    )
    assert shuffle_count(ps) == 0, explain_str(ps)


def test_mincost_broadcasts_all_dims(spark):
    """Q2 shape: supplier/nation/region/part all broadcast; the only
    exchanges shuffle the synthesized partsupp for the per-part MIN and
    its equality join-back."""
    from flink_kmeans_clustering_spark.operators.relational import (
        min_cost_suppliers,
        synth_partsupp,
    )

    part = load_table(spark, "part", SF)
    supplier = load_table(spark, "supplier", SF)
    df = min_cost_suppliers(
        part,
        supplier,
        load_table(spark, "nation", SF),
        load_table(spark, "region", SF),
        synth_partsupp(part, supplier),
    )
    plan = explain_str(df)
    assert plan.count("BroadcastExchange") >= 3, plan
    # per-part MIN + equality join-back: both sides hash on the join
    # key, plus the aggregate's own exchange — never more than 3
    assert_max_shuffles(df, 3)


def test_waiting_suppliers_single_fact_pass(spark):
    """Q21 shape: the double EXISTS/NOT EXISTS must NOT self-join the
    fact table — lineitem is scanned for the semi join and ONE
    per-order aggregate, with supplier/nation broadcast."""
    from flink_kmeans_clustering_spark.operators.relational import waiting_suppliers

    df = waiting_suppliers(
        load_table(spark, "supplier", SF),
        load_table(spark, "nation", SF),
        load_table(spark, "orders", SF),
        load_table(spark, "lineitem", SF),
    )
    plan = explain_str(df)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # lineitem appears in the semi-join probe and the aggregate inputs;
    # a correlated-rewrite blowup would triple this
    assert plan.count("lineitem") <= 4, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime Bloom-filter join pruning (the 100 TB star-join saver
    when the dim side is too big to broadcast): with broadcast off, the
    selective orders filter must inject might_contain(...) onto the
    lineitem probe side so non-matching fact rows die at the scan, not
    at the shuffle."""
    import pyspark.sql.functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, "lineitem", SF)
        orders = load_table(spark, "orders", SF).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = explain_str(j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_nd_assignment_narrow_and_update_single_shuffle(spark):
    """The n-dim generalization keeps the 2-D physics: assignment is a
    zero-exchange narrow map, and the mean update's per-cluster sums
    (the kernel's ``label_sums``, which ``lloyd_nd`` folds its means
    from) are one Spark job of one stage: no exchange, and the vector
    column is never exploded into per-element rows."""
    import uuid

    from flink_kmeans_clustering_spark.functions.vector import label_sums
    from flink_kmeans_clustering_spark.operators.kmeans import assign_points_nd

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    init = [
        [float(v) for v in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    a = assign_points_nd(emb, init)
    assert shuffle_count(a) == 0, explain_str(a)
    assert "Generate" not in explain_str(a), "vector must not explode"
    sc = spark.sparkContext
    group = f"nd-update-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        [sums] = label_sums(a, "embedding", len(init[0]), label_col="cluster")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1]
    assert sum(n for n, _, _, _ in sums.values()) == emb.count()


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    bodies, start = [], plan.find("lambdafunction(")
    while start >= 0:
        i, depth = start + len("lambdafunction("), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


@pytest.mark.parametrize("op", ["normalize_unit_nd", "semantic_blocks"])
def test_unit_normalization_folds_the_norm_once_per_row(spark, op):
    """Unit normalization folds the norm once per row: no lambda of the
    optimized plan holds an ``aggregate`` (a norm read inside the
    per-element ``transform`` lambda is refolded for every element, d²
    work per row), and the values are unchanged: zero and NULL vectors
    have no unit vector."""
    from flink_kmeans_clustering_spark.operators.dedup import semantic_blocks
    from flink_kmeans_clustering_spark.operators.kmeans import normalize_unit_nd

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    if op == "normalize_unit_nd":
        out = normalize_unit_nd(df)
    else:
        out = semantic_blocks(df, k=1).withColumnRenamed("id", "vec_id").withColumnRenamed(
            "nv", "embedding"
        )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" in plan and "transform(" in plan, plan
    for body in _lambda_bodies(plan):
        assert "aggregate(" not in body, plan
    got = {r["vec_id"]: r["embedding"] for r in out.collect()}
    assert got == {0: [0.6, 0.8]}


@pytest.mark.parametrize("op", ["knn_join", "ivf_knn_join", "isotropy_profile"])
def test_pair_cosines_fold_one_dot_per_pair(spark, op):
    """A scored pair folds its dot and nothing else: the projection
    right above each pair join holds exactly one ``aggregate`` (the
    dot), the join condition none, and every norm is folded below the
    joins, once per row.  Nothing above the top pair projection folds
    (the NULL-cosine filter sits after the window, not in the join)."""
    from flink_kmeans_clustering_spark.operators.linalg import isotropy_profile
    from flink_kmeans_clustering_spark.operators.similarity import (
        ivf_knn_join,
        knn_join,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter("vec_id < 5").withColumnRenamed("vec_id", "query_id")
    df = {
        "knn_join": lambda: knn_join(emb, queries, k=3),
        "ivf_knn_join": lambda: ivf_knn_join(emb, queries, k=3),
        "isotropy_profile": lambda: isotropy_profile(emb, panel_buckets=4),
    }[op]()
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    joins = [i for i, line in enumerate(lines) if "Join Inner" in line]
    assert joins, lines
    for i in joins:
        pair = lines[i - 1]
        assert "Project [" in pair and pair.count("aggregate(") == 1, pair
        assert "zip_with(" in pair and "SQRT(" not in pair, pair
        assert "aggregate(" not in lines[i], lines[i]
    assert not any("aggregate(" in line for line in lines[: joins[0] - 1]), lines
    norms = [i for i, line in enumerate(lines) if "SQRT(aggregate(" in line]
    assert norms and min(norms) > joins[0], lines


def test_assignment_with_dist2_evaluates_argmin_once(spark):
    """Reading both cluster and dist² must not duplicate the argmin: the
    2-D assignment carries exactly one array_min in the optimized plan
    (two fields read off one inline expression would evaluate the
    k-candidate scan twice per row), and the n-d assignment exactly one
    MapInArrow node (the numpy kernel emits both columns in one pass)
    and no array_min."""
    from flink_kmeans_clustering_spark.operators.kmeans import assign_points_nd

    def n_argmin(df) -> int:
        return df._jdf.queryExecution().optimizedPlan().toString().count("array_min(")

    pts = points_v(spark, SF)
    a2 = assign_points(pts, [(0, 0.0, 0.0), (1, 10.0, 10.0)], dist2_col="d2")
    assert n_argmin(a2) == 1, explain_str(a2)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    init = [
        [float(v) for v in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    an = assign_points_nd(emb, init, dist2_col="d2")
    opt = an._jdf.queryExecution().optimizedPlan().toString()
    assert n_argmin(an) == 0 and opt.count("MapInArrow") == 1, opt


def test_pq_scoring_is_narrow_takeordered(spark):
    """PQ/ADC scoring must be join-free and shuffle-free: codes and the
    LUT are literals, both cuts are TakeOrderedAndProject."""
    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_pq,
        pq_codebooks_first,
    )
    import pyspark.sql.functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    [q] = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qv = [float(v) for v in q["embedding"]]
    df = ann_pq(emb, qv, pq_codebooks_first(emb, m=8, k=16), k=10)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    # ≤1 exchange since r14: the under-parallel spread rebalance fires
    # on the single-file test corpus (pass-through at scale, where the
    # scan has splits — the shuffle-free ADC story is a 100 TB claim);
    # scoring itself must stay narrow: no aggregation exchange, no sort
    assert shuffle_count(df) <= 1, plan


def test_measured_shuffle_budget_gate(spark):
    """MEASURED shuffle-write regression gate (the r04 shuffle audit
    turned into a test): the scale-critical queries must stay within an
    absolute byte budget at sf0.01 — ~3× their r05 measured values, so
    a broadcast silently becoming a shuffle join (10-1000× blowup)
    trips while normal jitter does not.  Bytes come from the JVM
    AppStatusStore, not the plan."""
    import __spark_entry__ as entrymod
    from flink_kmeans_clustering_spark.plans import (
        measured_shuffle_write_bytes,
    )

    budgets = {  # bytes; measured r05 values in comments
        "q_knn_join": 64 << 10,        # 589
        # 0 through r13; since r14 ann_pq spreads the single-file test
        # corpus before the interpreted ADC scan (243 191 measured —
        # the raw vector column moved ONCE, linear in corpus, absent at
        # scale where the scan has splits).  The gate still trips on a
        # broadcast-join regression, which lands in the tens of MB.
        "q_ann_pq": 1 << 20,
        "q_rel_pricing": 64 << 10,     # 903
        "q_dedup_minhash": 512 << 10,  # 86 083
        "q_dedup_twostage": 512 << 10, # 137 827
        "q_dedup_keep": 4 << 20,       # 947 298
        "q_graph_pagerank": 4 << 20,   # 948 705
    }
    qs = entrymod.queries()
    over = {}
    for name, budget in budgets.items():
        got = measured_shuffle_write_bytes(
            lambda n=name: qs[n](spark, SF_CORRECTNESS), spark
        )
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"shuffle-write budget exceeded: {over}"


def test_measured_shuffle_gate_trips_on_unbroadcast_join(spark):
    """Tripwire proof: the same logical join measured with broadcast
    suppressed must blow far past the gate's budget class, while the
    broadcast form stays tiny — evidence the gate actually detects the
    regression it exists for."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.plans import (
        measured_shuffle_write_bytes,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")

    def bad():
        # shuffle join forced: no broadcast allowed on either side
        return (
            li.hint("shuffle_hash")
            .join(part.hint("shuffle_hash"), li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def good():
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    bad_bytes = measured_shuffle_write_bytes(bad, spark)
    good_bytes = measured_shuffle_write_bytes(good, spark)
    assert bad_bytes > 10 * max(good_bytes, 1), (bad_bytes, good_bytes)
    assert bad_bytes > 64 << 10, bad_bytes  # would trip the small-class budget


def test_bpe_pairs_single_shuffle_topk(spark):
    from flink_kmeans_clustering_spark.operators.textstats import (
        bpe_pair_frequencies,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bpe_pair_frequencies(docs, top_n=20)
    # one shuffle: the pair-alphabet groupBy; the cut is TakeOrdered
    assert_max_shuffles(df, 1)
    assert_has_node(df, "TakeOrderedAndProject")


def test_domain_cap_single_window_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.sampling import domain_cap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # window partition + final groupBy reuse the source-key clustering;
    # budget 2 exchanges (rank shuffle + aggregate)
    assert_max_shuffles(domain_cap(docs, cap=10), 2)


def test_audio_window_stats_zero_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.multimodal import (
        audio_window_stats,
        synthesize_assets,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = audio_window_stats(synthesize_assets(docs))
    assert_max_shuffles(df, 0)


def test_hard_negative_mining_plan(spark):
    """Hard-negative mining keeps knn_join's 100 TB plan: the corpus
    is never shuffled (query batch broadcast), the per-query rank is a
    WindowGroupLimit with the DEEPER limit (skip+k) applied partially
    before the single query-key exchange."""
    from flink_kmeans_clustering_spark.operators.similarity import (
        hard_negative_mining,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_table

    emb = load_table(spark, "embeddings", SF)
    import pyspark.sql.functions as F

    df = hard_negative_mining(
        emb, emb.filter(F.col("vec_id") < 5), k=5, skip=5,
        query_id_col="vec_id",
    )
    assert_max_shuffles(df, 1)
    plan = explain_str(df)
    assert "WindowGroupLimit" in plan and "row_number(), 10, Partial" in plan
    assert "BroadcastExchange" in plan


def test_token_budget_sample_single_exchange(spark):
    """The token-budget sampler is one domain-key window exchange;
    token counts are in-scan (no explode/generate in the plan)."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        token_budget_sample,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", SF)
    df = token_budget_sample(docs, budget=800)
    assert_max_shuffles(df, 1)
    assert "Generate" not in explain_str(df)


def test_repeated_span_profile_shuffle_budget(spark):
    """Span dedup is linear: three key exchanges (doc-pos window,
    shingle df aggregate, doc interval merge) plus the final doc join —
    and never a cartesian/candidate-pair join."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        repeated_span_profile,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_table

    docs = load_table(spark, "documents", SF)
    df = repeated_span_profile(docs)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert_max_shuffles(df, 4)


def test_filtered_knn_pushes_metadata_predicate(spark):
    """The metadata predicate reaches the documents parquet scan
    (PushedFilters) and the read schema is pruned to the id + filter
    columns — the corpus is never post-filtered after ranking."""
    import pyspark.sql.functions as F

    from flink_kmeans_clustering_spark.operators.similarity import (
        filtered_knn_join,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_table

    emb = load_table(spark, "embeddings", SF)
    docs = load_table(spark, "documents", SF)
    df = filtered_knn_join(
        emb,
        docs,
        emb.filter(F.col("vec_id") < 5),
        (F.col("lang") == "en") & (F.col("n_chars") >= 200),
        query_id_col="vec_id",
    )
    pf = " ".join(pushed_filters(df))
    assert "lang" in pf and "n_chars" in pf
    schemas = read_schemas(df)
    doc_schema = [s for s in schemas if "doc_id" in s]
    assert doc_schema and all("text" not in s for s in doc_schema)


# --- round-8 operators -------------------------------------------------------


def test_png_pipeline_is_narrow_arrow_batched(spark):
    """Pack -> decode -> flatten is a narrow Arrow mapInPandas
    pipeline; the only allowed exchange is the `spread` rebalance of
    the skinny test-scale scan (a no-op at 100 TB where the input has
    enough splits) — feature extraction fans out embarrassingly
    parallel."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_multimodal_png"](spark, SF)
    assert_max_shuffles(df, 1)
    s = explain_str(df)
    assert "MapInPandas" in s


def test_matryoshka_ranks_with_window_group_limit(spark):
    """All prefix-dim cosines come from broadcast-joined corpus scans
    (never a shuffled corpus join), and every per-(query, level)
    ranking pre-trims to top-k per partition BEFORE its exchange —
    the only corpus-sized data movement is partition-local."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_embed_matryoshka"](spark, SF)
    s = explain_str(df)
    assert "WindowGroupLimit" in s
    assert "BroadcastNestedLoopJoin" in s  # the broadcast query batch
    # 5-exchange budget: ONE window branch (ranked is localCheckpointed
    # so the truth filter reuses it — one corpus pass total), the hits
    # aggregate, and the bounded spine joins — nothing corpus-wide
    assert_max_shuffles(df, 5)


def test_bloom_probe_is_codegen_no_python(spark):
    """The Bloom probe must be literal-array bit tests in codegen —
    no Python UDF anywhere in the plan, and the probe side reaches
    the aggregate through only the countDistinct expand shuffles."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_dedup_bloom"](spark, SF)
    s = explain_str(df)
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "MapInPandas" not in s
    assert_max_shuffles(df, 3)


def test_crosssource_no_corpus_self_join(spark):
    """Pairs come from the digest -> source-set explode, never a
    corpus-digest self-join: no join operator may consume a
    corpus-sized (unaggregated) side."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_dedup_crosssource"](spark, SF)
    s = explain_str(df)
    # the only joins are over the bounded per-source aggregates
    assert s.count("SortMergeJoin") == 0
    assert_max_shuffles(df, 6)


def test_ivfpq_probe_pushed_scoring_narrow(spark):
    """IVFADC plan shape: the probe filter reaches the scan
    (PushedFilters on the cell column), per-cell residual/LUT lookups
    are literals (no join anywhere), both cuts are
    TakeOrderedAndProject — the partition-pruned zero-shuffle probe
    story with residual coding on top."""
    import pyspark.sql.functions as F

    from flink_kmeans_clustering_spark.operators.similarity import (
        ann_ivfpq,
        cell_centroids,
        ivfpq_residual_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [
        (r["cell"], list(r["centroid"]))
        for r in cell_centroids(emb, "label").collect()
    ]
    books = ivfpq_residual_codebooks(emb, cents, m=8, k=16)
    [row] = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qv = [float(v) for v in row["embedding"]]
    df = ann_ivfpq(emb, qv, cents, books, k=10, n_probe=2, shortlist=50)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert shuffle_count(df) == 0, plan
    assert any("label" in f for f in pushed_filters(df)), pushed_filters(df)


def test_dsir_lm_table_broadcast_no_fact_shuffle_beyond_counts(spark):
    """DSIR plan shape: the 256-row LM table and the 1-row totals come
    back as broadcasts (no SortMergeJoin anywhere), so the only
    exchanges are the (doc, bucket) count aggregations."""
    import pyspark.sql.functions as F

    from flink_kmeans_clustering_spark.operators.textstats import dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dsir_weights(docs, F.col("lang") == "en")
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert_has_node(df, "TakeOrderedAndProject")


def test_coreset_is_two_aggregates_and_takeordered(spark):
    """Coreset sampling plan shape: corpus-side work is the posexplode
    mean + the decimal mass aggregate; the mean/mass/n rows come back
    as broadcast nested loops (1-row each), and the final k-cut is
    TakeOrderedAndProject, never a global sort."""
    from flink_kmeans_clustering_spark.operators.sampling import coreset_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = coreset_sample(emb, k=50)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan, plan
    assert_has_node(df, "TakeOrderedAndProject")
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_gear_chunking_is_one_linear_shuffle(spark):
    """Content-defined chunking plan shape: the cut/slice/digest work is
    ONE let-bound codegen'd expression per row (no join), and the only
    exchanges are the spread rebalance plus the digest aggregate —
    linear corpus physics, no pair blow-up anywhere in the plan."""
    from flink_kmeans_clustering_spark.operators.dedup import gear_chunk_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = gear_chunk_stats(docs)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert_max_shuffles(df, 3)  # spread + partial/final digest agg
    assert_has_node(df, "TakeOrderedAndProject")


def test_doremi_single_count_shuffle_before_driver_state(spark):
    """DoReMi's corpus work is ONE (domain, bucket) count aggregate
    plus a narrow per-domain doc count — the iteration itself runs on
    K×B driver state, so no join and no further exchange may appear in
    the distributed part.  (The returned weights frame is literal
    rows; the plan to audit is the count pass.)"""
    import pyspark.sql.functions as F

    from flink_kmeans_clustering_spark.functions.text import tokenize
    from flink_kmeans_clustering_spark.operators.sampling import (
        DOREMI_BUCKETS,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bucket = (
        F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
        % DOREMI_BUCKETS
    )
    counts = (
        docs.select(
            F.col("source").alias("_d"),
            F.explode(tokenize(F.col("text"))).alias("_tok"),
        )
        .select("_d", bucket.alias("_b"))
        .groupBy("_d", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    plan = explain_str(counts)
    assert "Join" not in plan, plan
    assert_max_shuffles(counts, 1)
    # column pruning: the count pass reads only (source, text)
    for s in read_schemas(counts):
        assert "doc_id" not in s and "lang" not in s and "n_chars" not in s, s


def test_clip_agreement_one_join_rest_codegen(spark):
    """CLIP agreement plan shape: modality pruning reaches the scan,
    the ONLY exchanges serve the single image-features ⋈ captions
    join, and the scoring (towers, heads, cosine) is pure projection —
    no Generate (explode) and no second join anywhere."""
    from flink_kmeans_clustering_spark.operators.multimodal import (
        clip_agreement_filter,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = clip_agreement_filter(docs)
    import re

    plan = explain_str(df)
    # formatted mode prints each node in the tree AND the detail list —
    # count detail entries only
    n_joins = len(
        re.findall(
            r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
            plan,
        )
    )
    assert n_joins == 1, plan  # exactly the features ⋈ captions join
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan, plan  # histogram is row-local, no explode
    assert_max_shuffles(df, 4)  # join exchanges + final order


def test_delta_dedup_digest_join_linear(spark):
    """Delta-dedup plan shape: chunk kernel is row-local (one Generate
    per side, no pair blow-up), old-side digests aggregate once, and
    the membership join is a digest-key hash join — never a
    cartesian/nested-loop."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        snapshot_delta_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = snapshot_delta_dedup(docs)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert_max_shuffles(df, 7)


def test_bpe_train_vocab_pass_single_shuffle_no_join(spark):
    """BPE merge learning's corpus-scale work is ONE word-frequency
    aggregate; every round after that is vocabulary-sized (re-segment
    projection + pair-alphabet aggregate) with the argmax as 1-row
    driver state.  The corpus pass must stay join-free, one exchange,
    and read only the text column.  Derived from the SHIPPED operator
    helpers (ADVICE r11: an inline rebuild would not catch a
    regression in the real code path)."""
    import pyspark.sql.functions as F

    from flink_kmeans_clustering_spark.operators.textstats import (
        BPE_PAIRS_SQL,
        bpe_fold_sql,
        bpe_word_vocab,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = bpe_word_vocab(docs, "text", min_len=2)
    plan = explain_str(vocab)
    assert "Join" not in plan, plan
    assert_max_shuffles(vocab, 1)
    for s in read_schemas(vocab):
        assert "doc_id" not in s and "source" not in s, s
    # a round job on top of the vocab — the exact fold + pair exprs
    # bpe_fit_merges runs: merge-fold projection + pair aggregate adds
    # exactly one more (pair-alphabet) exchange
    seg = vocab.selectExpr("split(w, '') AS seg", "cnt").selectExpr(
        bpe_fold_sql("t", "h"), "cnt"
    )
    pairs = (
        seg.filter(F.size("seg") >= 2)
        .selectExpr(f"explode({BPE_PAIRS_SQL}) AS pair", "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("freq"))
    )
    assert "Join" not in explain_str(pairs)
    assert_max_shuffles(pairs, 2)


def test_crossmodal_dedup_no_cartesian_caption_cap_broadcast(spark):
    """Cross-modal joint dedup composes two bounded blocking passes
    and ONE pair-key outer join: no cartesian product anywhere, the
    caption hot-group count joins broadcast-side, and every join is
    an equi-join (chunk key, fingerprint, pair key)."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        crossmodal_dedup_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = crossmodal_dedup_pairs(docs)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the caption group-count cap


def test_quality_train_gradient_pass_single_row_aggregate(spark):
    """The trained-quality-classifier round job is ONE global aggregate
    over the cached feature projection: no join, a single exchange
    (the 1-row final-aggregate pass), and the corpus scan reads only
    (text, lang).  Derived from the SHIPPED feature frame + sigmoid
    fragment (ADVICE r11: an inline rebuild would not catch a
    regression in the real code path)."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        QUALITY_TRAIN_FEATURES,
        quality_feature_frame,
        quality_p_sql,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fv = quality_feature_frame(docs)
    # the exact round-0 gradient job quality_fit_weights issues
    k = len(QUALITY_TRAIN_FEATURES)
    p = quality_p_sql([0.0] * k)
    grad = fv.selectExpr(
        *[
            f"sum(CAST(round(x{j + 1} * ({p} - y), 12)"
            f" AS DECIMAL(32,12))) AS g{j}"
            for j in range(k)
        ],
        "count(1) AS n",
    )
    plan = explain_str(grad)
    assert "Join" not in plan, plan
    assert_max_shuffles(grad, 1)
    for s in read_schemas(grad):
        assert "doc_id" not in s and "source" not in s, s


def test_bpe_encode_pass_two_shuffles_no_join(spark):
    """BPE application (r12; ADVICE r12 single-scan rewrite): the
    corpus touches the plan exactly once — the shared min_len=1
    word-frequency vocab (one exchange, text-only scan), which the
    operator localCheckpoints so BOTH the training loop and the encode
    replay read the |V|-sized table, never the corpus.  The returned
    encode plan over it is join-free, ≤2 exchanges (token agg, top-n
    order), every merge a narrow fold projection, and scans the
    checkpoint — no parquet source anywhere."""
    from flink_kmeans_clustering_spark.operators.common import spread
    from flink_kmeans_clustering_spark.operators.textstats import (
        bpe_encode,
        bpe_word_vocab,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # the one corpus pass: vocab agg only, text-only read schema
    vocab = bpe_word_vocab(spread(docs, "text"), "text", min_len=1)
    vplan = explain_str(vocab)
    assert "Join" not in vplan, vplan
    assert_max_shuffles(vocab, 2)  # spread round-robin + vocab agg
    for s in read_schemas(vocab):
        assert "doc_id" not in s and "source" not in s, s
    # the shipped encode plan: reads the checkpointed vocab, not parquet
    df = bpe_encode(docs, rounds=2, top_n=10)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert_max_shuffles(df, 2)


def test_quality_calib_one_bin_aggregate_no_join(spark):
    """Calibration (r12): the evaluation plan — the lazy curve the
    SHIPPED operator localCheckpoints after training (ADVICE r12:
    materialized while the feature frame is cached; materialize=False
    exposes the plan to pin) — is score + bin + ONE ≤n_bins-row
    aggregate + the global-window total: join-free, ≤3 exchanges,
    corpus scan reads only (text, lang)."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        quality_classifier_calibration,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = quality_classifier_calibration(docs, rounds=1, materialize=False)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert_max_shuffles(df, 3)
    for s in read_schemas(df):
        assert "doc_id" not in s and "source" not in s, s


def test_crossmodal_delta_no_cartesian_lane_predicates_pushed(spark):
    """Incremental cross-modal dedup (r12): same physics as the full
    pass — no cartesian/nested-loop anywhere, the caption hot-group
    cap joins broadcast-side — with the new-lane restriction living in
    the equi-join conditions (pair generation is new × all), never a
    post-join filter over an all-pairs product."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        crossmodal_delta_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = crossmodal_delta_pairs(docs)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the caption group-count cap


def test_bpe_fertility_plan_vocab_sized_no_corpus_rescan(spark):
    """Fertility (r13): the corpus collapses to the checkpointed
    per-(source, word) table once — the returned join+aggregate plan
    scans only the two checkpoints (no parquet source anywhere), the
    per-word token-count join is an equi-join (no cartesian), and the
    exchange budget is the join + the |sources|-row aggregate + the
    final order."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        bpe_fertility,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bpe_fertility(docs, rounds=2)
    plan = explain_str(df)
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_max_shuffles(df, 5)


def test_quality_gate_plan_one_row_broadcast_and_source_agg(spark):
    """Calibrated gate (r13): the lazy plan (materialize=False — the
    shipped operator localCheckpoints the |sources|-row report) gates
    the scored corpus with a ONE-ROW broadcast (the threshold frame),
    never a cartesian over data; the corpus scan reads only
    (text, lang, source) — doc_id is pruned with the rest of the
    documents schema."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        quality_gate_report,
        quality_probe_frame,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = quality_gate_report(
        quality_probe_frame(docs), rounds=1, materialize=False
    )
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    # exactly ONE one-row threshold broadcast (formatted explain names
    # each node twice: tree + detail section), nothing data-sized
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # doc_id is read since r14: the probe frame hash-spreads by it
    # before the feature scan (the under-parallel-corpus fix); n_chars
    # stays pruned with the rest of the documents schema
    for s in read_schemas(df):
        assert "n_chars" not in s, s


def test_crossmodal_keepset_plan_same_physics_as_delta(spark):
    """Keep-set (r13): inherits the delta pass's physics — no
    cartesian/nested-loop pair generation anywhere, the caption
    hot-group cap joins broadcast-side — and adds only pair-sized
    aggregates plus the lane-scan equi-join."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        crossmodal_keepset,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # checkpoint_pairs=False exposes the full lazy plan (r14: the
    # shipped operator localCheckpoints the increment-sized pair list
    # so the touch union's two branches don't re-run the delta DAG)
    df = crossmodal_keepset(docs, checkpoint_pairs=False)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the caption group-count cap


def test_bpe_vocab_sweep_plan_one_walk_no_corpus_rescan(spark):
    """Vocabulary-size sweep (r14): one segmentation walk serves every
    budget — the returned plan scans only the two checkpoints (no
    parquet source), joins the per-word snapshot columns back in ONE
    equi-join (no cartesian), and stays within the fertility exchange
    budget + the stack unpivot (which is a projection, not a shuffle).
    Two budgets must cost the same exchanges as one."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        bpe_vocab_sweep,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bpe_vocab_sweep(docs, rounds_list=(1, 2))
    plan = explain_str(df)
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # one equi-join feeding one aggregate: same budget as fertility
    assert_max_shuffles(df, 5)


def test_gate_pr_curve_plan_one_bin_aggregate_no_join(spark):
    """PR curve (r14): the lazy plan (materialize=False — the shipped
    operator localCheckpoints the ≤n_bins-row curve) is score + bin +
    ONE ≤n_bins-row aggregate + the two windows over it: join-free,
    nothing corpus-sized after the feature scan, and the corpus scan
    reads only (text, lang) — doc_id/source pruned."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        quality_gate_pr_curve,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = quality_gate_pr_curve(docs, rounds=1, materialize=False)
    plan = explain_str(df)
    assert "Join" not in plan, plan
    assert_max_shuffles(df, 3)
    for s in read_schemas(df):
        assert "doc_id" not in s and "source" not in s, s


def test_keepset_compaction_plan_index_counted_never_pair_joined(spark):
    """Compaction (r14): inherits the keep-set physics (no cartesian /
    nested-loop pair generation; caption cap broadcast-side) and adds
    only two |sources|-row aggregates and their tiny full-outer join —
    the index lane is counted (one extra parquet scan reading only
    (doc_id, text, source)), never pair-joined or exploded."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        crossmodal_keepset_compaction,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # checkpoint_pairs=False exposes the full lazy plan (r14 — see the
    # keepset pin above)
    df = crossmodal_keepset_compaction(docs, checkpoint_pairs=False)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the caption group-count cap
    for s in read_schemas(df):
        assert "n_chars" not in s, s
