"""Property-based invariants (hypothesis) for the K-Means core.

SURVEY.md §5's planned property set: WCSS non-increasing across
iterations, assignment idempotent at a fixpoint, centroid count ≤ k
(drop-semantics), and exact reference tie-breaking — over arbitrary
small point/centroid configurations, not hand-picked fixtures.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_kmeans_clustering_spark.operators.kmeans import (
    assign_points,
    lloyd,
    update_centroids,
)

coord = st.floats(
    min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
)
points_strategy = st.lists(st.tuples(coord, coord), min_size=1, max_size=12)
centroids_strategy = st.lists(st.tuples(coord, coord), min_size=1, max_size=4)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _pdf(spark, pts):
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "point_id long, x double, y double")


def _cents(cs):
    return [(i, float(x), float(y)) for i, (x, y) in enumerate(cs)]


@given(pts=points_strategy, cs=centroids_strategy)
@SLOW
def test_assignment_is_argmin_with_lowest_id_tiebreak(spark, pts, cs):
    got = {
        r["point_id"]: r["cluster"]
        for r in assign_points(_pdf(spark, pts), _cents(cs)).collect()
    }
    for i, (x, y) in enumerate(pts):
        # model with SQUARED distance — the engine's (and reference's)
        # comparison metric.  math.dist would disagree on denormal
        # deltas, where d² underflows to 0.0 but d does not (hypothesis
        # found exactly that case)
        dists = [
            ((x - cx) * (x - cx) + (y - cy) * (y - cy), cid)
            for cid, cx, cy in _cents(cs)
        ]
        best = min(dists)[0]
        want = min(cid for d, cid in dists if d == best)
        assert got[i] == want


@given(pts=points_strategy, cs=centroids_strategy)
@SLOW
def test_update_drops_empty_and_bounds_k(spark, pts, cs):
    assigned = assign_points(_pdf(spark, pts), _cents(cs))
    upd = update_centroids(assigned).collect()
    assert len(upd) <= len(cs)
    live = {r["cluster"] for r in assigned.collect()}
    assert {r["id"] for r in upd} == live


@given(pts=points_strategy, cs=centroids_strategy)
@SLOW
def test_wcss_non_increasing_and_fixpoint_idempotent(spark, pts, cs):
    df = _pdf(spark, pts)
    w1 = lloyd(df, _cents(cs), max_iterations=1, cache=False).wcss
    w3 = lloyd(df, _cents(cs), max_iterations=3, cache=False).wcss
    assert w3 <= w1 + 1e-9
    # fixpoint: once converged (ε=0 termination), another iteration
    # leaves the centroids unchanged
    res = lloyd(df, _cents(cs), max_iterations=25, epsilon=0.0, cache=False)
    again = lloyd(df, res.centroids, max_iterations=1, cache=False)
    for (i1, x1, y1), (i2, x2, y2) in zip(res.centroids, again.centroids):
        assert i1 == i2 and abs(x1 - x2) < 1e-9 and abs(y1 - y2) < 1e-9


# --- text-op invariants over arbitrary corpora ------------------------------

texts_strategy = st.lists(
    st.text(alphabet="ab cx1", min_size=0, max_size=40), min_size=1, max_size=6
)


def _docs(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@given(texts=texts_strategy)
@SLOW
def test_repetition_stats_invariants(spark, texts):
    from flink_kmeans_clustering_spark.operators.textstats import repetition_stats

    rows = repetition_stats(_docs(spark, texts), n=2).collect()
    assert len(rows) == len(texts)  # one row per doc, always
    for r in rows:
        assert r["n_distinct"] <= r["n_ngrams"]
        if r["n_ngrams"] == 0:
            assert r["dup_ngram_frac"] is None and r["top_ngram"] is None
        else:
            assert 0.0 <= r["dup_ngram_frac"] <= 1.0
            assert 1 <= r["top_ngram_ct"] <= r["n_ngrams"]
            assert 0.0 < r["top_ngram_frac"] <= 1.0


@given(texts=texts_strategy)
@SLOW
def test_tfidf_invariants(spark, texts):
    from flink_kmeans_clustering_spark.operators.textstats import tfidf_top_terms

    docs = _docs(spark, texts)
    n = len(texts)
    rows = tfidf_top_terms(docs, k=3).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
        assert 1 <= r["df_ct"] <= n      # df bounded by corpus size
        assert r["tf"] >= 1
        assert r["tfidf"] >= 0.0         # smoothed idf >= 1 > 0
    for d, rs in per_doc.items():
        ranks = sorted(x["rk"] for x in rs)
        assert ranks[0] == 1             # rank starts at 1 per doc
        scores = [x["tfidf"] for x in sorted(rs, key=lambda x: x["rk"])]
        assert scores == sorted(scores, reverse=True)


@given(texts=texts_strategy)
@SLOW
def test_benchmark_overlap_self_contains_all_nonempty(spark, texts):
    from flink_kmeans_clustering_spark.operators.dedup import benchmark_overlap
    from flink_kmeans_clustering_spark.functions.text import tokenize
    from pyspark.sql import functions as F

    docs = _docs(spark, texts)
    nonempty = docs.filter(F.size(tokenize(F.col("text"))) > 0).count()
    # a corpus checked against ITSELF flags every tokenizable doc
    flagged = benchmark_overlap(docs, docs, n=2).count()
    assert flagged == nonempty


# --- round-3 operator invariants ------------------------------------------

word = st.sampled_from(["table", "row", "scan", "key", "agg", "spark"])
doc_strategy = st.lists(
    st.lists(word, min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(docs=doc_strategy)
@SLOW
def test_kl_drift_nonnegative_and_zero_for_whole_corpus(spark, docs):
    """KL(slice ‖ corpus) ≥ 0 always; a slice that IS the corpus has
    drift 0 (Gibbs' inequality, observable through the operator)."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        source_token_drift,
    )

    rows = [(i, "all", t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = source_token_drift(df).collect()
    if not any(t.strip() for t in docs):
        assert out == []
        return
    [r] = out
    assert r["kl_vs_corpus"] == 0.0  # q == p exactly

    # now split into two sources: both KLs must be ≥ 0 (round-6 grid)
    rows2 = [(i, "a" if i % 2 == 0 else "b", t) for i, t in enumerate(docs)]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string, text string")
    for r in source_token_drift(df2).collect():
        assert r["kl_vs_corpus"] >= -1e-6


balances = st.lists(
    st.tuples(st.integers(0, 5), st.floats(-100, 100, allow_nan=False)),
    min_size=0,
    max_size=8,
)


@given(cust=balances, orders=balances)
@SLOW
def test_upsert_conserves_total_balance(spark, cust, orders):
    """Σ new_acctbal == Σ old acctbal + Σ order totals — the merge
    never loses or double-counts money (decimal-exact arithmetic)."""
    from flink_kmeans_clustering_spark.operators.relational import (
        upsert_customer_balances,
    )

    cust_rows = [
        (k, f"c{k}", round(b, 2), "SEG") for k, b in dict(cust).items()
    ]
    cdf = spark.createDataFrame(
        cust_rows, "c_custkey long, c_name string, c_acctbal double, c_mktsegment string"
    )
    odf = spark.createDataFrame(
        [(k, round(abs(v), 2)) for k, v in orders],
        "o_custkey long, o_totalprice double",
    )
    got = sum(r["new_acctbal"] for r in upsert_customer_balances(cdf, odf).collect())
    want = sum(r[2] for r in cust_rows) + sum(round(abs(v), 2) for _, v in orders)
    assert abs(got - want) < 1e-6


@given(pts=points_strategy)
@SLOW
def test_first_event_per_day_is_subset_and_one_per_key(spark, pts):
    """Output ⊆ input, exactly one row per (user, day), and it is the
    lexicographic (ts, event_id) minimum of its group."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import first_event_per_day

    rows = [
        (
            int(abs(x)) % 3,              # user
            i,                            # event_id
            dt.datetime(2024, 1, 1 + (int(abs(y)) % 3), int(abs(x)) % 24),
            "t",
            float(i),
        )
        for i, (x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double"
    )
    out = first_event_per_day(df).collect()
    seen = {}
    for r in out:
        key = (r["user_id"], r["day"])
        assert key not in seen  # one per key
        seen[key] = r
    import collections

    groups = collections.defaultdict(list)
    for u, eid, ts, _t, _v in rows:
        groups[(u, ts.strftime("%Y-%m-%d"))].append((int(ts.timestamp() * 1e6), eid))
    assert set(seen) == set(groups)
    for key, cand in groups.items():
        want_ts, want_id = min(cand)
        assert (seen[key]["ts_us"], seen[key]["event_id"]) == (want_ts, want_id)


edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=25,
)


@given(edges=edges_strategy)
@SLOW
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered wedge counting equals brute-force triangle
    enumeration on arbitrary small graphs (self-loops dropped,
    duplicates/direction collapsed) — and 3·(#triangles) equals the
    sum of per-node counts."""
    from itertools import combinations

    from flink_kmeans_clustering_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    want: dict[int, int] = {}
    n_tri = 0
    for a, b, c in combinations(nodes, 3):
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und:
            n_tri += 1
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    assert got == want
    assert sum(got.values()) == 3 * n_tri


@given(texts=texts_strategy, t=st.sampled_from([0.3, 0.5, 0.8]))
@SLOW
def test_prefix_filter_join_is_exact(spark, texts, t):
    """Prefix filtering must lose NO qualifying pair and admit no
    extra pair on arbitrary corpora (short docs, empty docs, repeated
    tokens, ties in the df order) at any threshold."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = _docs(spark, texts)
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(docs, n=3, threshold=t, max_df=None).collect()
    }
    pref = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs_prefix(docs, n=3, threshold=t).collect()
    }
    assert pref == exact


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_cc_star_equals_label_propagation(spark, raw_pairs):
    """Large-star/small-star and the public operator (driver
    union-find at this size) must each produce exactly the min-label
    components of a pure-Python BFS on arbitrary small graphs."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.dedup import (
        _cc_star,
        connected_components,
    )
    from tests.oracle_utils import min_label_components

    rows = [(min(a, b), max(a, b)) for a, b in raw_pairs]
    want = set(min_label_components(rows).items())
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    public = {
        (r["id"], r["component_id"])
        for r in connected_components(pairs).collect()
    }
    labels, _ = _cc_star(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .localCheckpoint(),
        max_iterations=50,
    )
    star = {(r["id"], r["comp"]) for r in labels.collect()}
    assert public == want
    assert star == want


@SLOW
@given(
    st.lists(  # lineitems: (orderkey 0..5, suppkey 0..3, late?)
        st.tuples(st.integers(0, 5), st.integers(0, 3), st.booleans()),
        min_size=1,
        max_size=24,
    ),
    st.sets(st.integers(0, 5)),  # orderkeys with status 'F'
)
def test_waiting_suppliers_matches_bruteforce_exists(spark, lis, f_orders):
    """The one-aggregate decorrelation of Q21's EXISTS / NOT EXISTS
    must equal the literal nested-quantifier evaluation."""
    from collections import Counter
    from pyspark.sql import functions as F

    li = spark.createDataFrame(
        [
            (ok, sk, 1, "1997-06-01", 40 if late else -40)
            for ok, sk, late in lis
        ],
        "l_orderkey long, l_suppkey long, l_linenumber int, _ship string, _off int",
    )
    # bend the hash-derived enrichment to the hypothesis-chosen lateness:
    # late iff receipt > commit, so fabricate commit/receipt directly by
    # monkey-wiring through the public operator via a pre-enriched frame
    # is not possible — instead drive the SAME aggregate logic the
    # operator uses on a hand-enriched frame and compare to brute force.
    enriched = li.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("_off") > 0).alias("_late"),
    )
    f_df = spark.createDataFrame(
        [(ok,) for ok in sorted(f_orders)] or [(-1,)], "o_orderkey long"
    )
    sub = enriched.join(
        f_df, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    per_order = sub.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "n_late"
        ),
    )
    got = Counter(
        r["l_suppkey"]
        for r in sub.filter(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .collect()
    )
    # brute force: literal quantifiers over the row list
    want: Counter = Counter()
    orders = {ok for ok, _, _ in lis if ok in f_orders}
    for ok in orders:
        rows = [(sk, late) for o, sk, late in lis if o == ok]
        supps = {sk for sk, _ in rows}
        for sk in supps:
            late_self = any(l for s, l in rows if s == sk)
            exists_other = any(s != sk for s, _ in rows)
            exists_other_late = any(s != sk and l for s, l in rows)
            if late_self and exists_other and not exists_other_late:
                want[sk] += 1
    assert got == want
