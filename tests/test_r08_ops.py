"""Unit tests for round-8 operators: matryoshka truncation recall,
salted skew join, Bloom contamination prefilter, cross-source overlap.
(The PNG codec's tests live in test_multimodal.py with the other
decode-contract tests.)"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F


# --- matryoshka_recall ------------------------------------------------------


def test_matryoshka_full_dim_is_exact_and_prefix_degrades(spark):
    """Hand corpus where the 2-dim prefix ranking disagrees with the
    full 4-dim one: query q=(1,0,0,0); at d=4 the nearest non-self
    vector is id 1 (aligned in dims 3-4... actually orthogonal tail),
    at d=2 vectors 2 and 3 (prefix-identical to q) tie ahead of 1."""
    from flink_kmeans_clustering_spark.operators.similarity import (
        matryoshka_recall,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # the query
        (1, [0.9, 0.1, 0.0, 0.0]),   # close at d=4 AND d=2
        (2, [1.0, 0.0, 9.0, 0.0]),   # prefix-identical, far at d=4
        (3, [1.0, 0.0, 0.0, 9.0]),   # prefix-identical, far at d=4
        (4, [-1.0, 0.5, 0.0, 0.0]),  # far everywhere
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matryoshka_recall(
        corpus, queries, k=2, dims_levels=(2, 4)
    ).collect()
    got = {(r["dims"], r["query_id"]): (r["n_hits"], r["recall"]) for r in out}
    # truth at d=4, k=2: cosine ranks self (1.0) then id 1; ids 2,3 tie
    # at ~0.1104 -> top2 = {0, 1}
    assert got[(4, 0)] == (2, 1.0)
    # at d=2: ids 0,2,3 all have prefix cosine 1.0 -> tie broken by id
    # -> top2 = {0, 2}; overlap with truth {0,1} = {0} -> recall 0.5
    assert got[(2, 0)] == (1, 0.5)


def test_matryoshka_zero_prefix_vectors_are_filtered(spark):
    """A vector whose d-dim prefix is all zeros has no defined cosine
    at that level — it must be absent from that level's ranking, not
    ranked with NULL."""
    from flink_kmeans_clustering_spark.operators.similarity import (
        matryoshka_recall,
    )

    rows = [
        (0, [1.0, 0.0, 1.0, 0.0]),
        (1, [0.0, 0.0, 1.0, 1.0]),  # zero 2-dim prefix
        (2, [0.5, 0.5, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matryoshka_recall(corpus, queries, k=3, dims_levels=(2, 4))
    got = {(r["dims"], r["query_id"]): r["n_hits"] for r in out.collect()}
    # truth (d=4, k=3) = {0,1,2}; d=2 candidates = {0,2} only -> 2 hits
    assert got[(4, 0)] == 3
    assert got[(2, 0)] == 2


# --- salted_join ------------------------------------------------------------


def _skew_fixture(spark):
    fact = spark.createDataFrame(
        [(i, "hot" if i % 4 else "cold", float(i)) for i in range(100)],
        "event_id long, k string, v double",
    )
    dim = spark.createDataFrame(
        [("hot", 2.0), ("cold", 3.0)], "k string, rate double"
    )
    return fact, dim


def test_salted_join_equals_plain_join(spark):
    from flink_kmeans_clustering_spark.operators.relational import salted_join

    fact, dim = _skew_fixture(spark)
    salted = (
        salted_join(fact, dim, "k", "event_id", salts=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("rate")).alias("s"))
    )
    plain = (
        fact.join(dim, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("rate")).alias("s"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_plan_is_shuffled_not_broadcast(spark):
    """The point of the operator: the dim side must NOT broadcast (the
    salt would be a no-op), and the join key must carry the salt."""
    from flink_kmeans_clustering_spark.operators.relational import salted_join

    fact, dim = _skew_fixture(spark)
    plan = (
        salted_join(fact, dim, "k", "event_id", salts=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "_salt" in plan


def test_salted_join_rejects_bad_salts(spark):
    from flink_kmeans_clustering_spark.operators.relational import salted_join

    fact, dim = _skew_fixture(spark)
    with pytest.raises(ValueError, match="salts"):
        salted_join(fact, dim, "k", "event_id", salts=0)


# --- bloom_prefilter --------------------------------------------------------


def _bloom_pos(j: int, s: str, m: int) -> int:
    # lane j = md5-hex chars [8j, 8j+8) of ONE digest per shingle
    return int(hashlib.md5(s.encode()).hexdigest()[8 * j : 8 * j + 8], 16) % m


def test_bloom_prefilter_matches_python_reference(spark):
    """Exact + bloom hit counts reproduced by an independent Python
    Bloom implementation on a hand corpus (unigram shingles keep the
    arithmetic auditable)."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        BLOOM_K,
        bloom_prefilter,
    )

    bench_rows = [(100, "alpha beta gamma delta", "b")]
    probe_rows = [
        (1, "alpha beta zeta theta", "web"),
        (2, "iota kappa lambda mu", "web"),
        (3, "gamma delta epsilon nu", "book"),
    ]
    schema = "doc_id long, text string, source string"
    bench = spark.createDataFrame(bench_rows, schema)
    probe = spark.createDataFrame(probe_rows, schema)
    m = 64  # tiny filter -> false positives become likely, good
    out = {
        r["source"]: r
        for r in bloom_prefilter(probe, bench, n=1, m=m).collect()
    }

    bench_sh = set("alpha beta gamma delta".split())
    bits = {
        _bloom_pos(j, s, m) for s in bench_sh for j in range(BLOOM_K)
    }

    def expected(rows):
        n_sh = bloom = exact = 0
        docs = set()
        for doc_id, text, _src in rows:
            for s in set(text.split()):
                n_sh += 1
                hit = all(_bloom_pos(j, s, m) in bits for j in range(BLOOM_K))
                bloom += hit
                exact += s in bench_sh
            docs.add(doc_id)
        return len(docs), n_sh, bloom, exact

    for src, rows in (
        ("web", probe_rows[:2]),
        ("book", probe_rows[2:]),
    ):
        nd, ns, bl, ex = expected(rows)
        r = out[src]
        assert (r["n_docs"], r["n_shingles"]) == (nd, ns)
        assert (r["bloom_hits"], r["exact_hits"]) == (bl, ex)
        assert r["false_pos"] == bl - ex
        # a bloom filter never false-negatives
        assert r["bloom_hits"] >= r["exact_hits"]


def test_bloom_prefilter_no_false_negatives_property(spark):
    """Every exact hit must bloom-hit (the defining Bloom guarantee),
    checked on real-shaped data with the production m."""
    from flink_kmeans_clustering_spark.operators.dedup import bloom_prefilter

    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} shared phrase", "s%d" % (i % 3))
            for i in range(30)
        ],
        "doc_id long, text string, source string",
    )
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    probe = docs.filter(F.col("doc_id") % 5 != 0)
    for r in bloom_prefilter(probe, bench, n=2).collect():
        assert r["bloom_hits"] >= r["exact_hits"]
        assert r["false_pos"] >= 0


# --- cross_source_overlap ---------------------------------------------------


def test_cross_source_overlap_hand_matrix(spark):
    """Duplicates are counted on the NORMALIZED text (case/whitespace
    insensitive), per distinct digest, across every source pair."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        cross_source_overlap,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello  World", "a"),
            (2, "hello world", "b"),      # dup of 1 after normalization
            (3, "hello world", "a"),      # same digest as 1 -> 1 distinct in a
            (4, "unique to a", "a"),
            (5, "unique to b", "b"),
            (6, "something else", "c"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_overlap(docs).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    # a: {hello world, unique to a} (2 digests), b: {hello world,
    # unique to b} (2), shared: 1 -> jaccard 1/3
    assert (ab["n_a"], ab["n_b"], ab["n_shared"]) == (2, 2, 1)
    assert ab["jaccard"] == pytest.approx(round(1 / 3, 6))
    assert out[("a", "c")]["n_shared"] == 0
    assert out[("a", "c")]["jaccard"] == 0.0


def test_cross_source_overlap_no_self_pairs_and_bounded(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        cross_source_overlap,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}", f"s{i % 4}") for i in range(40)],
        "doc_id long, text string, source string",
    )
    rows = cross_source_overlap(docs).collect()
    assert len(rows) == 6  # C(4,2) — the spine is all pairs
    assert all(r["source_a"] < r["source_b"] for r in rows)


# --- bbit_minhash_report ----------------------------------------------------


def _mh_sig(text: str, num_hashes: int = 16, n: int = 3) -> list[int]:
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    if not toks:
        return []
    sh = list(
        dict.fromkeys(
            " ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))
        )
    )
    sig = []
    for i in range(num_hashes):
        g, h = i // 2, i % 2
        sig.append(
            min(
                int(
                    hashlib.md5(f"{g}:{s}".encode()).hexdigest()[
                        15 * h : 15 * h + 15
                    ],
                    16,
                )
                for s in sh
            )
        )
    return sig


def test_bbit_minhash_matches_python_reference(spark):
    """Identical docs give est=1.0 / est_bbit=1.0 / exact=1.0 with zero
    MAE; a near-dup pair's b-bit estimate is reproduced by an
    independent Python model of the md5 lanes."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        bbit_minhash_report,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near)], "doc_id long, text string"
    )
    rows = {
        r["est_jaccard"]: r for r in bbit_minhash_report(docs).collect()
    }
    assert rows[1.0]["n_pairs"] >= 1
    assert rows[1.0]["avg_exact"] == 1.0
    assert rows[1.0]["mae_full"] == 0.0
    assert rows[1.0]["avg_bbit"] == 1.0
    assert rows[1.0]["mae_bbit"] == 0.0
    # the near pair, if banded in: its bucket's avg_bbit must equal the
    # Python model's collision-corrected estimate
    sa, sb = _mh_sig(base), _mh_sig(near)
    full = sum(x == y for x, y in zip(sa, sb)) / 16
    mb = sum(x % 4 == y % 4 for x, y in zip(sa, sb)) / 16
    est_b = round((mb - 0.25) / 0.75, 6)
    if full in rows and full != 1.0:
        assert rows[full]["avg_bbit"] == pytest.approx(est_b, abs=1e-9)


def test_bbit_minhash_rejects_unreplayable_config(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        bbit_minhash_report,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="b must be"):
        bbit_minhash_report(docs, b=0)


# --- neyman_allocation_sample -----------------------------------------------


def test_neyman_allocates_by_size_times_std(spark):
    """Stratum A: 40 rows of high-variance values; stratum B: 40 rows
    near-constant.  Neyman must give A nearly the whole budget even
    though the strata are the same size — and draw exactly alloc rows."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        neyman_allocation_sample,
    )

    rows = [(i, "a", float(100 * (i % 2))) for i in range(40)]
    rows += [(100 + i, "b", 5.0 + (i % 2) * 0.01) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {
        r["event_type"]: r
        for r in neyman_allocation_sample(
            df, "event_type", "value", budget=20
        ).collect()
    }
    assert out["a"]["n_rows"] == 40 and out["b"]["n_rows"] == 40
    # std(a) = 50, std(b) = 0.005 -> w_a/w_b = 10000: a gets 19, b 0
    assert out["a"]["alloc"] == 19
    assert out["b"]["alloc"] == 0
    assert out["a"]["n_sampled"] == out["a"]["alloc"]
    assert out["b"]["n_sampled"] == 0 and out["b"]["sample_sum"] == 0.0


def test_neyman_caps_at_stratum_size_and_zero_variance(spark):
    from flink_kmeans_clustering_spark.operators.sampling import (
        neyman_allocation_sample,
    )

    rows = [(i, "small", float(i)) for i in range(3)]
    rows += [(10 + i, "flat", 7.0) for i in range(50)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {
        r["event_type"]: r
        for r in neyman_allocation_sample(
            df, "event_type", "value", budget=1000
        ).collect()
    }
    # zero-variance stratum weights 0; the whole budget points at
    # 'small' but alloc caps at N_h
    assert out["flat"]["alloc"] == 0
    assert out["small"]["alloc"] == 3
    assert out["small"]["n_sampled"] == 3


def test_neyman_is_deterministic_across_runs(spark):
    from flink_kmeans_clustering_spark.operators.sampling import (
        neyman_allocation_sample,
    )

    rows = [(i, f"s{i % 3}", float((i * 7) % 23)) for i in range(90)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    a = sorted(map(tuple, neyman_allocation_sample(df, "event_type", "value", budget=30).collect()))
    b = sorted(map(tuple, neyman_allocation_sample(df, "event_type", "value", budget=30).collect()))
    assert a == b


# --- spherical_kmeans_nd ----------------------------------------------------


def test_spherical_kmeans_centroids_are_unit_and_cosine_clustered(spark):
    """Two direction bundles with very different magnitudes: plain
    Lloyd would split by magnitude; spherical must split by DIRECTION
    and return unit-norm centroids."""
    import math

    from flink_kmeans_clustering_spark.operators.kmeans import (
        spherical_kmeans_nd,
    )

    rows = []
    for i in range(10):
        mag = 1.0 + 99.0 * (i % 2)  # alternate tiny/huge magnitudes
        rows.append((i, [mag, 0.02 * i, 0.0, 0.0]))        # +x direction
        rows.append((100 + i, [0.0, 0.01 * i, 0.0, -mag]))  # -w direction
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, -1.0]]
    cents, ids = spherical_kmeans_nd(df, init, max_iterations=4)
    assert ids == [0, 1]
    for c in cents:
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-9)
    # centroid 0 points +x, centroid 1 points -w
    assert cents[0][0] > 0.95
    assert cents[1][3] < -0.95


def test_spherical_kmeans_drops_zero_rows_and_empty_clusters(spark):
    from flink_kmeans_clustering_spark.operators.kmeans import (
        spherical_kmeans_nd,
    )

    rows = [
        (0, [0.0, 0.0]),  # zero vector: dropped at normalization
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # second centroid starts opposite everything -> empties -> drops
    cents, ids = spherical_kmeans_nd(
        df, [[1.0, 0.0], [-1.0, 0.0]], max_iterations=2
    )
    assert ids == [0]
    assert len(cents) == 1
