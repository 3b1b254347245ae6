"""Dedup operator semantics on synthetic corpora with known duplicates."""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    drop_near_duplicates,
    embedding_cosine_pairs,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

def _fold_nv(v):
    """x / ‖x‖ with ‖x‖² folded from 0.0 in index order; None for a
    vector that must never pair (null, empty, null-element, NaN, zero)."""
    if not v or any(x is None for x in v):
        return None
    sq = 0.0
    for x in v:
        sq = sq + x * x
    if not (0.0 < sq < math.inf):
        return None
    n = math.sqrt(sq)
    return [x / n for x in v]


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _round6(x):
    """Spark's round(double, 6): HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _py_block_pairs(rows, threshold):
    """{(id_a, id_b): cosine} over (id, vector, block) rows: equal-width
    vectors in one block, id_a < id_b, fold cosine ≥ threshold."""
    nv = [(i, _fold_nv(v), b) for i, v, b in rows]
    nv = sorted((i, x, b) for i, x, b in nv if x is not None)
    out = {}
    for ia, (i, x, bx) in enumerate(nv):
        for j, y, by in nv[ia + 1:]:
            if bx == by and i < j and len(x) == len(y):
                c = _fold_dot(x, y)
                if c >= threshold:
                    out[(i, j)] = c
    return out


def _py_semantic(rows, k, threshold, target_block_size=4096):
    """semantic_dedup_pairs over (id, vector) rows: the k lowest-id clean
    vectors seed, each vector joins the seed of highest rounded cosine
    (ties to the lowest seed id), then fold cosines pair inside blocks.
    Output {(id_a, id_b, block, round6(cosine))}."""
    nv = {i: x for i, x in ((i, _fold_nv(v)) for i, v in rows) if x is not None}
    if k is None:
        k = max(8, -(-len(nv) // target_block_size))
    seeds = sorted(nv)[:k]
    blk = {
        i: max(seeds, key=lambda s: (_round6(_fold_dot(x, nv[s])), -s))
        for i, x in nv.items()
    }
    pairs = _py_block_pairs([(i, nv[i], blk[i]) for i in nv], threshold)
    return {(a, b, blk[a], _round6(c)) for (a, b), c in pairs.items()}


def _read_pylist(path, cols):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


BASE = "the quick brown fox jumps over the lazy dog and runs far away home"
NEAR = BASE.replace("lazy", "sleepy")  # one token differs
OTHER = "completely different content about spark catalyst optimizer plans"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, BASE, "en"),
            (1, BASE, "en"),  # exact dup of 0
            (2, NEAR, "en"),  # near dup of 0/1
            (3, OTHER, "en"),
            (4, OTHER + " extra tail words here", "en"),
        ],
        "doc_id long, text string, lang string",
    )


def test_exact_dedup(spark, docs):
    groups = {r["keep_id"]: r["n_dups"] for r in exact_duplicate_groups(docs, ["text"]).collect()}
    assert groups[0] == 2  # doc 1 collapsed into doc 0
    assert groups[2] == 1
    kept = sorted(r["doc_id"] for r in dedup_exact(docs, ["text"]).collect())
    assert kept == [0, 2, 3, 4]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup: jaccard exactly 1
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_ngram_max_df_caps_frequent_shingles(spark, docs):
    # with max_df=1 every shared shingle is dropped -> no pairs survive
    assert ngram_jaccard_pairs(docs, threshold=0.0, max_df=1).count() == 0


def test_ngram_cap_is_on_by_default(spark):
    """One shingle shared by >DEFAULT_NGRAM_MAX_DF docs must not create
    candidate pairs under the default call — that key is exactly the
    quadratic skew bomb at corpus scale.  The explicit max_df=None
    escape hatch restores the exact (uncapped) semantics."""
    from flink_kmeans_clustering_spark.operators.dedup import DEFAULT_NGRAM_MAX_DF

    n_docs = DEFAULT_NGRAM_MAX_DF + 5
    rows = [(i, f"alpha beta gamma unique{i} tail{i} word{i}") for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = ngram_jaccard_pairs(df, threshold=0.01).collect()
    assert capped == [], "ubiquitous shingle must be dropped by default"
    uncapped = ngram_jaccard_pairs(df, threshold=0.01, max_df=None).collect()
    assert len(uncapped) == n_docs * (n_docs - 1) / 2


def test_minhash_lsh_finds_planted_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # near dup collides on at least one band
    assert (0, 3) not in pairs


def test_minhash_recall_vs_exact_jaccard_sf001(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert truth, "testdata should contain planted near-duplicates"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall} over {len(truth)} true pairs"


def test_minhash_hash_families_agree_on_pairs(spark):
    """xxhash64 (production default) and md5 (oracle surface) are
    different hash families, so est_jaccard values differ — but on the
    planted-duplicate corpus both must surface the same pair set."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    xx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    md = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5, hash_fn="md5").collect()
    }
    assert xx, "corpus should contain planted near-duplicates"
    assert xx == md


def test_simhash_hash_families_agree_on_exact_dups(spark, docs):
    """Exact duplicates have identical token streams, so both hash
    families must report them at Hamming distance 0 and keep unrelated
    docs out.  (Full pair-set equality across families does NOT hold on
    a real corpus: near-zero distances are family-specific.)"""
    for fam in ("xxhash64", "md5"):
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_pairs(docs, max_hamming=3, hash_fn=fam).collect()
        }
        assert pairs[(0, 1)] == 0, f"{fam}: planted exact dup not at distance 0"
        assert (0, 3) not in pairs, f"{fam}: unrelated docs within radius"


def test_simhash_identical_distance_zero(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0
    assert all(h <= 3 for h in pairs.values())


def test_simhash_banding_guard(spark, docs):
    with pytest.raises(ValueError, match="hamming"):
        simhash_pairs(docs, max_hamming=4, chunks=4)


def test_embedding_cosine_pairs(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.999, 0.01, 0.0], 0),  # near dup of 0
            (2, [0.0, 1.0, 0.0], 0),     # orthogonal
            (3, [1.0, 0.0, 0.0], 1),     # same as 0 but other block
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(emb, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs
    assert (0, 3) not in pairs  # blocking respected

    unblocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(emb, block_col=None, threshold=0.9).collect()
    }
    assert (0, 3) in unblocked

    # the output keeps the input id type
    named = emb.withColumn("vec_id", F.concat(F.lit("d"), "vec_id"))
    out = embedding_cosine_pairs(named, threshold=0.9)
    assert out.schema["id_a"].dataType.simpleString() == "string"
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {("d0", "d1")}


def test_connected_components_chain_transitivity(spark):
    """A~B, B~C, C~D is one duplicate group even though A~D never met."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (20, 30)], "id_a long, id_b long"
    )
    comps = {r["id"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 30: 20}


def test_connected_components_star_and_singleton_free(spark):
    # star centered on the max id: min label must still win everywhere
    pairs = spark.createDataFrame(
        [(1, 99), (2, 99), (3, 99)], "id_a long, id_b long"
    )
    comps = {r["id"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 99: 1}
    # nodes never in a pair don't appear
    assert 4 not in comps


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).collect() == []


def _star_labels(pairs, max_iterations=50):
    """``_cc_star`` on an (id_a, id_b) pair table: (labels, {id: comp})."""
    from flink_kmeans_clustering_spark.operators.dedup import _cc_star

    p = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels, _ = _cc_star(p.localCheckpoint(), max_iterations)
    return labels, {r["id"]: r["comp"] for r in labels.collect()}


@pytest.mark.parametrize(
    "rows, id_type",
    [
        # Σid of these overflows a long under ANSI arithmetic
        ([(2**62 + 1, 2**62 + 2), (2**62 + 3, 2**62 + 2), (2**62 + 5, 2**62 + 9)], "long"),
        # string ids cannot be summed at all
        ([("b", "a"), ("c", "b"), ("é", "z")], "string"),
    ],
    ids=["long_near_max", "string"],
)
def test_cc_ids_need_no_arithmetic(spark, rows, id_type):
    """Both engines label any orderable id type — convergence never
    sums ids — and keep the input id type in the output schema."""
    from tests.oracle_utils import min_label_components

    pairs = spark.createDataFrame(rows, f"id_a {id_type}, id_b {id_type}")
    want = min_label_components(rows)
    t = pairs.schema[0].dataType.simpleString()
    comp = connected_components(pairs)
    assert comp.schema.simpleString() == f"struct<id:{t},component_id:{t}>"
    assert {r["id"]: r["component_id"] for r in comp.collect()} == want
    labels, got = _star_labels(pairs)
    assert labels.schema.simpleString() == f"struct<id:{t},comp:{t}>"
    assert got == want


def test_cc_star_route_equals_union_find_route(spark, monkeypatch):
    """The engine follows the pair count, never the caller: with the
    driver bound at 0 every non-empty graph goes to star, and its
    labels equal the union-find route's and the pure-Python
    reference.  A null id is one (null, null) row that connects
    nothing; int ids stay int (long and string: the test above)."""
    from flink_kmeans_clustering_spark.operators import dedup
    from tests.oracle_utils import min_label_components

    rows = [(1, 2), (2, None), (None, 5), (7, 8), (9, 9), (3, 9), (12, 11),
            (11, 10), (10, 3), (20, 21)]
    pairs = spark.createDataFrame(rows, "id_a int, id_b int")
    uf = connected_components(pairs)
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
    star = connected_components(pairs)
    want = min_label_components(rows)
    pinned = {1: 1, 2: 1, 5: 5, 7: 7, 8: 7, None: None}
    assert {k: want[k] for k in pinned} == pinned
    for comp in (uf, star):
        assert comp.schema.simpleString() == "struct<id:int,component_id:int>"
        got = comp.collect()
        assert {r["id"]: r["component_id"] for r in got} == want
        assert len(got) == len(want)  # one row per node, one null row


def test_drop_near_duplicates_greedy(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(docs, pairs).collect())
    # docs 1 and 2 both have smaller-id near-dup 0; 4 near-dups 3
    assert kept == [0, 3]


def test_gemm_cosine_matches_exact_variant(spark):
    """The BLAS-shortlisted kernel emits exactly the pure-Python
    index-ordered fold: every in-block pair at t=-1 and the t=0.3 subset,
    cosines compared bit for bit."""
    from tests.conftest import SF_CORRECTNESS

    path = f"{SF_CORRECTNESS}/embeddings.parquet"
    emb = spark.read.parquet(path)
    ref = _py_block_pairs(
        _read_pylist(path, ["vec_id", "embedding", "label"]), -1.0
    )
    assert len(ref) > 10_000
    for t in (-1.0, 0.3):
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_cosine_pairs(emb, threshold=t, dim=64).collect()
        }
        want = {k: c for k, c in ref.items() if c >= t}
        assert len(want) > 100
        assert got == want


def test_benchmark_overlap_counts_shared_ngrams(spark):
    from flink_kmeans_clustering_spark.operators.dedup import benchmark_overlap

    docs = spark.createDataFrame(
        [
            (1, "the quick brown"),
            (2, "quick brown fox"),
            (3, "totally unrelated words"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, "quick brown")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in benchmark_overlap(docs, bench, n=2).collect()}
    # docs 1 and 2 share the "quick brown" bigram with the benchmark;
    # doc 3 shares nothing and is absent
    assert set(rows) == {1, 2}
    assert rows[1]["n_hits"] == 1 and rows[1]["sample_ngram"] == "quick brown"
    assert rows[2]["n_hits"] == 1


def test_semantic_blocks_assignment(spark):
    from flink_kmeans_clustering_spark.operators.dedup import semantic_blocks

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),   # nearer seed 0
            (3, [0.1, 0.9]),   # nearer seed 1
            (4, [-1.0, 0.0]),  # anti-parallel to 0, orthogonal to 1 -> seed 1
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r["id"]: r["blk"] for r in semantic_blocks(df, k=2).collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1, 4: 1}
    # exactly one block per id
    assert semantic_blocks(df, k=2).count() == 5


def test_semantic_dedup_pairs_within_blocks_only(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        semantic_blocks,
        semantic_dedup_pairs,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.999, 0.01]),
            (3, [0.01, 0.999]),
            (4, [0.998, 0.02]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = semantic_dedup_pairs(df, k=2, threshold=0.99).collect()
    blk = {r["id"]: r["blk"] for r in semantic_blocks(df, k=2).collect()}
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert blk[r["id_a"]] == blk[r["id_b"]] == r["block"]
        assert r["cosine"] >= 0.99
    # the near-parallel trio (0,2,4) pairs up; cross-block pairs never appear
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 2), (0, 4), (2, 4), (1, 3)}


def test_two_stage_dedup_verifies_with_jaccard(spark):
    from flink_kmeans_clustering_spark.operators.dedup import two_stage_dedup_pairs

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the sleepy dog"),
            (2, "completely different words in this text entirely"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.05], 0),  # cosine-close to 0
            (2, [0.98, 0.08], 0),  # cosine-close but text-unrelated
        ],
        "vec_id long, embedding array<double>, label int",
    )
    rows = two_stage_dedup_pairs(
        docs, emb, cosine_threshold=0.9, jaccard_threshold=0.3
    ).collect()
    # (0,2)/(1,2) pass stage 1 (cosine) but fail stage 2 (no shared text)
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}
    [r] = rows
    assert r["cosine"] >= 0.9 and r["jaccard"] >= 0.3


def test_keep_best_per_group_tiebreak(spark):
    from flink_kmeans_clustering_spark.operators.dedup import keep_best_per_group

    df = spark.createDataFrame(
        [
            (0, "a", 100),
            (1, "a", 300),
            (2, "a", 300),   # ties with 1 -> lower id wins
            (3, "b", 50),
        ],
        "doc_id long, source string, n_chars long",
    )
    got = {r["source"]: (r["doc_id"], r["n_chars"]) for r in keep_best_per_group(df).collect()}
    assert got == {"a": (1, 300), "b": (3, 50)}


def test_semantic_blocks_adaptive_k_bounds_blocks(spark):
    """k=None derives seed count from corpus size so the EXPECTED block
    stays <= target_block_size: k = max(8, ceil(N/target))."""
    from flink_kmeans_clustering_spark.operators.dedup import semantic_blocks

    df = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # N=40, target=10 -> k = max(8, 4) = 8 distinct possible seeds
    out = semantic_blocks(df, k=None, target_block_size=10)
    blks = {r["blk"] for r in out.collect()}
    assert blks <= set(range(8))
    assert out.count() == 40
    # N=40, target=3 -> k = max(8, ceil(40/3)=14) = 14: blk ids beyond 8
    out2 = semantic_blocks(df, k=None, target_block_size=3)
    assert {r["blk"] for r in out2.collect()} <= set(range(14))
    # the sizing rule itself (pure math, the 100 TB contract):
    # ceil-div keeps expected block size <= target for any N
    for n, target in [(10**6, 4096), (10**9, 4096), (5, 4096)]:
        k = max(8, -(-n // target))
        assert n / k <= 4096 or k == 8


def test_semantic_blocks_sparse_ids_get_full_seed_count(spark):
    """Seeds are the k SMALLEST ids (orderBy+limit), not ids < k — with
    sparse ids starting at 100 the old filter would have found none."""
    from flink_kmeans_clustering_spark.operators.dedup import semantic_blocks

    df = spark.createDataFrame(
        [
            (100, [1.0, 0.0]),
            (200, [0.0, 1.0]),
            (300, [0.95, 0.05]),
            (400, [0.05, 0.95]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r["id"]: r["blk"] for r in semantic_blocks(df, k=2).collect()}
    # seeds are ids 100 and 200; 300 joins 100's block, 400 joins 200's
    assert got == {100: 100, 200: 200, 300: 100, 400: 200}


@pytest.mark.parametrize(
    "k,ansi", [(2, "false"), (129, "true")], ids=["literal", "broadcast"]
)
def test_semantic_blocks_keep_64bit_ids(spark, k, ansi):
    """A block id is its seed's 64-bit id, in the id's own type: an INT
    cast raised CAST_OVERFLOW under ANSI and, with ANSI off, gave seeds
    2^32 apart the same truncated block id."""
    from pyspark.sql.types import LongType

    from flink_kmeans_clustering_spark.operators.common import session_conf
    from flink_kmeans_clustering_spark.operators.dedup import semantic_blocks

    base = 1 << 40
    a, b = base + 1, base + 1 + (1 << 32)  # equal in their low 32 bits
    df = spark.createDataFrame(
        [(a, [1.0, 0.0]), (b, [0.0, 1.0]), (b + 1, [0.95, 0.05]), (b + 2, [0.05, 0.95])],
        "vec_id long, embedding array<double>",
    )
    with session_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        out = semantic_blocks(df, k=k)
        got = {r["id"]: r["blk"] for r in out.collect()}
    assert out.schema["blk"].dataType == LongType()
    if k == 2:
        assert got == {a: a, b: b, b + 1: a, b + 2: b}
    else:  # every row seeds its own block
        assert got == {i: i for i in (a, b, b + 1, b + 2)}


def test_two_stage_gemm_candidates_match_exact(spark):
    """The GEMM-shortlisted candidate stage plus the Jaccard verify emit
    the same pairs AND the same (fold, round-6) cosine and Jaccard
    values as an independent pure-Python reference."""
    from flink_kmeans_clustering_spark.operators.dedup import two_stage_dedup_pairs
    from tests.conftest import SF_CORRECTNESS

    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet")
    emb = spark.read.parquet(f"{SF_CORRECTNESS}/embeddings.parquet")
    kw = dict(cosine_threshold=0.3, jaccard_threshold=0.01, dim=64)
    got = two_stage_dedup_pairs(docs, emb, **kw).collect()

    cand = _py_block_pairs(
        _read_pylist(
            f"{SF_CORRECTNESS}/embeddings.parquet",
            ["vec_id", "embedding", "label"],
        ),
        kw["cosine_threshold"],
    )
    text = dict(
        _read_pylist(f"{SF_CORRECTNESS}/documents.parquet", ["doc_id", "text"])
    )

    def shingles(t):
        toks = [x for x in re.split("[^a-z0-9]+", t.lower()) if x]
        return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))} if toks else set()

    want = set()
    for (a, b), c in cand.items():
        sa, sb = shingles(text[a]), shingles(text[b])
        if sa | sb and len(sa & sb) / len(sa | sb) >= kw["jaccard_threshold"]:
            want.add((a, b, _round6(c), _round6(len(sa & sb) / len(sa | sb))))
    assert len(want) > 0
    assert {(r["id_a"], r["id_b"], r["cosine"], r["jaccard"]) for r in got} == want


def test_two_stage_unblocked_finds_cross_label_pair(spark):
    """block_col=None pairs across labels; the default still blocks."""
    from flink_kmeans_clustering_spark.operators.dedup import two_stage_dedup_pairs

    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame([(0, text), (1, text)], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.99, 0.05], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    kw = dict(cosine_threshold=0.9, jaccard_threshold=0.3)
    rows = two_stage_dedup_pairs(docs, emb, block_col=None, **kw).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}
    assert two_stage_dedup_pairs(docs, emb, **kw).count() == 0


def test_embedding_pairs_dim_mismatch_rows_excluded(spark):
    """A vector longer than dim must NOT silently understate its cosine
    (truncated dot over a full-width norm); mismatched widths are
    filtered out of the pair space entirely."""
    from flink_kmeans_clustering_spark.operators.dedup import embedding_cosine_pairs

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0, 5.0], 0),  # wider than dim=2: excluded
            (3, [1.0], 0),            # narrower: excluded
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = embedding_cosine_pairs(df, threshold=0.5, dim=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_fuzzy_name_pairs_distinct_domain(spark):
    from flink_kmeans_clustering_spark.operators.dedup import fuzzy_name_pairs

    df = spark.createDataFrame(
        [
            (10, "red bolt"),
            (3, "red bolt"),     # duplicate value: collapses to rep id 3
            (7, "ted bolt"),     # distance 1 from "red bolt"
            (8, "red widget"),   # different block (noun)
            (9, "blue bolt"),    # distance 3 from "red bolt": filtered
        ],
        "pk long, name string",
    )
    rows = fuzzy_name_pairs(df, "name", "pk", max_distance=2).collect()
    assert len(rows) == 1
    [r] = rows
    # min-id representative for the duplicated "red bolt"
    assert {r["name_a"], r["name_b"]} == {"red bolt", "ted bolt"}
    assert {r["id_a"], r["id_b"]} == {3, 7}
    assert r["distance"] == 1


@pytest.mark.parametrize("k", [None, "broadcast"])
def test_semantic_dedup_pairs_matches_python_reference(spark, k):
    """Both seed-assignment forms (literal seeds at k=None, the
    broadcast join past SEMANTIC_LITERAL_SEED_MAX) against a pure-Python
    reference: lowest-id seeds, rounded-cosine argmax with ties to the
    lowest id, fold cosines — rows compared bit for bit."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        SEMANTIC_LITERAL_SEED_MAX,
        semantic_dedup_pairs,
    )
    from tests.conftest import SF_CORRECTNESS

    path = f"{SF_CORRECTNESS}/embeddings.parquet"
    k = None if k is None else SEMANTIC_LITERAL_SEED_MAX + 1
    got = semantic_dedup_pairs(
        spark.read.parquet(path), k=k, threshold=0.3, dim=64
    ).collect()
    want = _py_semantic(_read_pylist(path, ["vec_id", "embedding"]), k, 0.3)
    assert len(want) > 50
    assert {(r["id_a"], r["id_b"], r["block"], r["cosine"]) for r in got} == want


_DEGENERATE = {
    "null": None,
    "empty": [],
    "null_element": [1.0, None],
    "zero_norm": [0.0, 0.0],
    "nan": [float("nan"), 1.0],
}
_CLEAN = [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0]), (4, [0.8, 0.6])]


@pytest.mark.parametrize(
    "fn", ["embedding_cosine_pairs", "pair_cosine_histogram",
           "semantic_dedup_pairs", "two_stage_dedup_pairs"],
)
@pytest.mark.parametrize("row", sorted(_DEGENERATE))
def test_degenerate_vectors_never_pair(spark, fn, row):
    """A null, empty, null-element, zero-norm or NaN vector (id 0, the
    lowest, so it would also seed a semantic block) never pairs, under
    ANSI on and off, and the clean rows' pairs are unchanged."""
    from flink_kmeans_clustering_spark.operators import dedup
    from flink_kmeans_clustering_spark.operators.common import session_conf

    rows = [(0, _DEGENERATE[row])] + _CLEAN
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id long, embedding array<double>, label int",
    )
    clean = _py_block_pairs([(i, v, 0) for i, v in _CLEAN], -1.0)
    for ansi in ("true", "false"):
        with session_conf(spark, {"spark.sql.ansi.enabled": ansi}):
            if fn == "embedding_cosine_pairs":
                out = dedup.embedding_cosine_pairs(emb, threshold=-1.0).collect()
                got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
                assert got == clean
            elif fn == "pair_cosine_histogram":
                out = dedup.pair_cosine_histogram(emb).collect()
                assert sum(r["n_pairs"] for r in out) == len(clean)
                assert not any(math.isnan(r["max_cos"]) for r in out)
            elif fn == "semantic_dedup_pairs":
                out = dedup.semantic_dedup_pairs(emb, k=2, threshold=-1.0).collect()
                got = {(r["id_a"], r["id_b"], r["block"], r["cosine"]) for r in out}
                assert got == _py_semantic(_CLEAN, 2, -1.0)
            else:
                docs = spark.createDataFrame(
                    [(i, "the quick brown fox jumps") for i, _ in rows],
                    "doc_id long, text string",
                )
                out = dedup.two_stage_dedup_pairs(
                    docs, emb, cosine_threshold=-1.0, jaccard_threshold=0.0
                ).collect()
                got = {(r["id_a"], r["id_b"], r["cosine"]) for r in out}
                assert got == {(a, b, _round6(c)) for (a, b), c in clean.items()}


def test_dedup_corpus_keeps_reps_and_untouched(spark):
    from flink_kmeans_clustering_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, payload string"
    )
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 4), (5, 4)], "doc_id long, component_id long"
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, comp).collect())
    # 0,3 untouched; 1 and 4 are their components' min-id reps; 2,5 dropped
    assert kept == [0, 1, 3, 4]


def test_prefix_filter_pairs_equal_uncapped_exact(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for t in (0.2, 0.5, 0.8):
        exact = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=t, max_df=None
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs_prefix(
                docs, n=3, threshold=t
            ).collect()
        }
        assert pref == exact, f"threshold {t}"


def test_prefix_filter_skips_hot_shingle_candidates(spark):
    """A ubiquitous shingle shared by every doc must not generate the
    quadratic candidate set: two long docs that share ONLY the hot
    boilerplate (low Jaccard) never become a candidate pair, while a
    genuinely near-duplicate pair still qualifies."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    boiler = "all rights reserved"
    rows = [
        (0, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (1, f"eta theta iota kappa lambda mu {boiler}"),
        (2, f"nu xi omicron pi rho sigma {boiler}"),
        # 3/4: near-dups of each other
        (3, f"tau upsilon phi chi psi omega {boiler}"),
        (4, f"tau upsilon phi chi psi omega extra {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs_prefix(
            docs, n=3, threshold=0.5
        ).collect()
    }
    assert got == {(3, 4)}


def test_ppjoin_length_positional_filters_cut_candidates(spark):
    """PPJoin's length + positional filters must (a) strictly shrink the
    candidate set vs the bare prefix filter on a size-skewed corpus and
    (b) never drop a candidate that verification would keep."""
    from pyspark.sql import functions as F
    from flink_kmeans_clustering_spark.operators.dedup import (
        _prefix_candidates,
        exploded_shingles,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from pyspark.sql import Window

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = 0.5
    base = docs.select(F.col("doc_id").alias("id"), "text")
    ex = exploded_shingles(base, "id", "text", n=3, with_size=True)
    sets = ex.groupBy("id").agg(
        F.collect_set("sh").alias("shs"), F.first("sz").alias("sz")
    )
    exs = sets.select("id", "sz", F.explode("shs").alias("sh"))
    dfreq = exs.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("id").orderBy("_df", "sh")
    prefix = (
        exs.join(dfreq, "sh")
        .withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1)
        .select("id", "sh", "sz", "_pos")
        .localCheckpoint()
    )
    bare = _prefix_candidates(
        prefix, t, length_filter=False, positional_filter=False
    ).count()
    cut = _prefix_candidates(prefix, t).count()
    assert cut < bare, (cut, bare)
    # every TRUE pair is still a candidate after the filters
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=t, max_df=None).collect()
    }
    kept = {
        (r["id_a"], r["id_b"]) for r in _prefix_candidates(prefix, t).collect()
    }
    assert truth <= kept
    # and the end-to-end result with filters equals the exact join
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs_prefix(docs, n=3, threshold=t).collect()
    }
    assert got == truth


def test_cc_star_fewer_rounds_on_chain_graph(spark):
    """On a long chain (diameter = n) the star alternation collapses
    the component in O(log n) rounds — the adversarial-depth case the
    star engine exists for — and lands on the single min-rooted
    component."""
    import math
    from flink_kmeans_clustering_spark.operators.dedup import _cc_star

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    ).localCheckpoint()
    labels, rounds = _cc_star(chain, max_iterations=200)
    assert {(r["id"], r["comp"]) for r in labels.collect()} == {
        (i, 0) for i in range(n + 1)
    }
    assert rounds <= math.ceil(math.log2(n)) + 4, rounds


@pytest.mark.slow
def test_cc_star_rounds_logarithmic_on_deep_chain(spark):
    """Rounds-bound property (docs/CC_DEPTH.md): star-CC on a
    4096-node chain must converge within ⌈log2 d⌉ + 4 rounds (measured
    curve: 11 @ 10³, 15 @ 10⁴, 18 @ 10⁵ — ~log2 d + 1)."""
    import math
    from pyspark.sql import functions as F
    from flink_kmeans_clustering_spark.operators.dedup import _cc_star

    n = 4096
    chain = (
        spark.range(n - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .localCheckpoint()
    )
    labels, rounds = _cc_star(chain, max_iterations=50)
    assert rounds <= math.ceil(math.log2(n - 1)) + 4, rounds
    [row] = labels.agg(
        F.countDistinct("comp").alias("nc"), F.count(F.lit(1)).alias("nn")
    ).collect()
    assert row["nc"] == 1 and row["nn"] == n


def test_cc_raises_instead_of_silent_wrong_labels_on_deep_graph(spark):
    """A 120-chain gets exact labels from the public function (the
    driver union-find needs no rounds), while the star engine under a
    round budget too small for the chain must RAISE, not return labels
    that split the component."""
    n = 120
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = connected_components(chain)
    rows = {(r["id"], r["component_id"]) for r in comp.collect()}
    assert rows == {(i, 0) for i in range(n + 1)}
    with pytest.raises(RuntimeError, match="did not converge"):
        _star_labels(chain, max_iterations=3)


def test_keeper_drops_embedded_doc_jaccard_would_keep(spark):
    """End-to-end dual-criterion keeper: a short doc fully embedded in
    a long one (containment ≈ 1, Jaccard ≈ |A|/|B| below threshold)
    must be collapsed into the long doc's group — the containment edge
    q_dedup_keep gained in r05; Jaccard-only would keep both."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        connected_components,
        dedup_corpus,
        ngram_jaccard_pairs,
        ngram_overlap_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    longd = short + " " + " ".join(
        f"filler{i} pad{i} words{i}" for i in range(30)
    )
    docs = spark.createDataFrame(
        [(0, longd), (1, short), (2, "totally unrelated content here")],
        "doc_id long, text string",
    )
    # precondition: Jaccard alone does NOT pair them
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    assert jac.count() == 0
    pairs = ngram_overlap_pairs(
        docs, n=3, jaccard_threshold=0.5, containment_threshold=0.8
    )
    comp = connected_components(pairs, node_col="doc_id")
    kept = sorted(
        r["doc_id"] for r in dedup_corpus(docs, comp).collect()
    )
    assert kept == [0, 2]  # the embedded doc 1 collapsed into 0


def test_cc_engines_agree_on_self_pair_only_nodes(spark):
    """A node whose ONLY pair is a self-pair (id 9) must appear as its
    own root from BOTH engines — the documented 'one row per node that
    appears in any pair' contract (star used to drop it at the
    src != dst pre-filter)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 9), (5, 5), (5, 6)], "id_a long, id_b long"
    )
    uf = {r["id"]: r["component_id"] for r in connected_components(pairs).collect()}
    want = {1: 1, 2: 1, 3: 1, 9: 9, 5: 5, 6: 5}
    assert uf == want
    assert _star_labels(pairs)[1] == want


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment ≈ 1 while
    Jaccard ≈ |A|/|B| is small — exactly the pair the containment
    criterion exists for."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    longd = short + " " + " ".join(f"filler{i} pad{i} words{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, short), (1, longd), (2, "totally unrelated content here")],
        "doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): (r["inner_id"], r["containment"])
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert (0, 1) in cont and cont[(0, 1)][0] == 0  # short doc is inner
    assert cont[(0, 1)][1] == 1.0
    assert (0, 2) not in cont
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) not in jac  # jaccard misses it


def test_posting_list_cap_defuses_adversarial_ubiquitous_shingle(spark):
    """Skew-bomb fixture: ONE shingle shared by every document.
    Uncapped, that single posting key generates N·(N−1)/2 candidate
    pairs under one task; with the df cap the ubiquitous shingle is
    dropped before expansion, so candidates are bounded by max_df
    physics — at most max_df·(max_df−1)/2 pairs per surviving shingle.
    This pins the skew defense the _ngram_pair_stats docstring claims."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        _ngram_pair_stats,
    )

    n_docs, max_df = 60, 5
    bomb = "common alpha token"  # one 3-gram present in EVERY doc
    docs = spark.createDataFrame(
        [
            # each doc: the ubiquitous 3-gram + its own unique tail
            (i, f"{bomb} unique{i} tail{i} end{i}")
            for i in range(n_docs)
        ],
        "doc_id long, text string",
    )
    capped = _ngram_pair_stats(docs, "doc_id", "text", n=3, max_df=max_df)
    # every cross-doc overlap runs through the bomb shingle only ->
    # zero candidates survive the cap (vs C(60,2)=1770 uncapped)
    assert capped.count() == 0
    uncapped = _ngram_pair_stats(docs, "doc_id", "text", n=3, max_df=None)
    assert uncapped.count() == n_docs * (n_docs - 1) // 2

    # boundary: a shingle at df == max_df still expands, bounded at
    # C(max_df, 2) pairs
    docs2 = spark.createDataFrame(
        [(i, f"shared group gram only{i} here{i} now{i}") for i in range(max_df)],
        "doc_id long, text string",
    )
    at_cap = _ngram_pair_stats(docs2, "doc_id", "text", n=3, max_df=max_df)
    assert at_cap.count() == max_df * (max_df - 1) // 2


def test_soft_dedup_weights_cluster_mass(spark):
    from flink_kmeans_clustering_spark.operators.dedup import (
        soft_dedup_weights,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    # chain 0~1~2 (one cluster of 3), pair 4~5; 3 is a singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_size"], r["weight"])
        for r in soft_dedup_weights(docs, pairs).collect()
    }
    third = round(1.0 / 3.0, 6)
    assert got == {
        0: (3, third), 1: (3, third), 2: (3, third),
        3: (1, 1.0), 4: (2, 0.5), 5: (2, 0.5),
    }
    # soft-dedup invariant: every cluster contributes ~unit mass
    assert abs(sum(w for _, w in got.values()) - 3.0) < 1e-5


def test_url_canonicalize_hand_cases(spark):
    """Canonicalization table: case, default ports, fragments, trailing
    slashes, tracking params, and param ORDER all collapse; non-default
    ports and real params survive."""
    from flink_kmeans_clustering_spark.operators.dedup import url_canonicalize

    cases = [
        ("HTTP://WWW.Example.COM:80/a/b/?b=2&a=1&utm_source=x#frag",
         "http://www.example.com/a/b?a=1&b=2"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        ("http://example.com/", "http://example.com"),
        ("http://example.com/p?utm_source=x&utm_medium=y",
         "http://example.com/p"),
        ("http://example.com/p?ref=abc&z=1&fbclid=f&gclid=g",
         "http://example.com/p?z=1"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string"
    )
    got = {
        r["id"]: r["canonical_url"]
        for r in url_canonicalize(df).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_url_dup_groups_collapse_mess_only(spark):
    """Two docs sharing the dup key collapse; the synthesized mess
    (case/port/order/tracking/fragment) never splits a group and the
    canonical key never merges distinct bases."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        URL_DUP_MOD,
        synthesize_urls,
        url_duplicate_groups,
    )

    docs = spark.createDataFrame(
        [(i, "web") for i in list(range(6)) + [URL_DUP_MOD, URL_DUP_MOD + 1]],
        "doc_id long, source string",
    )
    groups = {
        r["keep_id"]: r for r in url_duplicate_groups(
            synthesize_urls(docs)
        ).collect()
    }
    # ids 0 and URL_DUP_MOD share base 0; 1 and URL_DUP_MOD+1 share base 1
    assert groups[0]["n_dups"] == 2 and groups[0]["dup_id_sum"] == URL_DUP_MOD
    assert groups[1]["n_dups"] == 2 and groups[1]["dup_id_sum"] == URL_DUP_MOD + 2
    assert len(groups) == 2  # ids 2..5 are singletons


def test_url_canonicalize_is_idempotent(spark):
    """Canonicalization is a projection: applying it to its own output
    changes nothing (fixpoint), over the full synthesized URL space."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        synthesize_urls,
        url_canonicalize,
    )

    docs = spark.createDataFrame(
        [(i, f"src{i % 20}") for i in range(300)], "doc_id long, source string"
    )
    once = url_canonicalize(synthesize_urls(docs)).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    twice = url_canonicalize(once).select("doc_id", "canonical_url")
    joined = once.join(twice, "doc_id")
    assert joined.filter(F.col("url") != F.col("canonical_url")).count() == 0


def test_incremental_dedup_flags_and_spine(spark):
    """Hand fixture: corpus {A, B}, new batch {A-dup, C, C-dup, D}.
    dup_of_corpus = min corpus id; dup_in_batch = min smaller new id;
    is_new only for D; every new doc emits exactly one row."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    corpus = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta"), (5, "alpha beta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "alpha beta"), (11, "zeta eta"), (12, "zeta eta"),
         (13, "omega only")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in incremental_exact_dedup(corpus, new).collect()}
    assert len(rows) == 4
    assert rows[10]["dup_of_corpus"] == 0 and rows[10]["is_new"] is False
    assert rows[11]["dup_in_batch"] is None and rows[11]["dup_of_corpus"] is None
    assert rows[11]["is_new"] is True
    assert rows[12]["dup_in_batch"] == 11 and rows[12]["is_new"] is False
    assert rows[13]["is_new"] is True


def test_incremental_dedup_never_shuffles_corpus(spark):
    """Scale posture: the corpus side joins against a BROADCAST of the
    new batch's distinct hashes — the executed plan must broadcast, and
    the only exchanges allowed are for the tiny new-batch window/join,
    never a corpus-wide repartition on the hash."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    corpus = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    new = spark.range(1000, 1010).select(
        F.col("id").alias("doc_id"), F.lit("text 5").alias("text")
    )
    plan = (
        incremental_exact_dedup(corpus, new)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_repeated_span_profile_hand_fixture(spark):
    """Span localization semantics: a shared 10-token boilerplate inside
    two otherwise-distinct docs is found as ONE merged span (the three
    overlapping 8-token windows coalesce); within-doc repetition alone
    does NOT flag (frequency is distinct-doc); docs shorter than the
    window width have no spans."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        repeated_span_profile,
    )

    boiler = "all rights reserved contact us for terms of service details"
    u1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    u2 = "one two three four five six seven eight nine ten"
    selfrep = "rep " * 20  # 20 tokens, all within ONE doc
    docs = spark.createDataFrame(
        [
            (0, f"{u1} {boiler}"),
            (1, f"{boiler} {u2}"),
            (2, selfrep.strip()),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in repeated_span_profile(docs, width=8).collect()
    }
    # doc 0: boilerplate occupies tokens 10..19 -> one merged span, 10 tokens
    assert out[0]["n_spans"] == 1 and out[0]["repeated_tokens"] == 10
    assert out[0]["n_tokens"] == 20 and out[0]["repeat_frac"] == 0.5
    # doc 1: same boilerplate at offset 0
    assert out[1]["n_spans"] == 1 and out[1]["repeated_tokens"] == 10
    # doc 2: 'rep' x20 repeats only within itself -> distinct-doc df == 1
    assert out[2]["n_spans"] == 0 and out[2]["repeated_tokens"] == 0
    # doc 3: shorter than width -> no windows
    assert out[3]["n_spans"] == 0 and out[3]["n_tokens"] == 2


def test_pair_cosine_histogram_bins(spark):
    """Bin edges are floor(cosine/width)*width; counts and per-bin
    extrema come from the same blocked pair space as
    embedding_cosine_pairs with no threshold."""
    from flink_kmeans_clustering_spark.operators.dedup import (
        pair_cosine_histogram,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),      # cos(0,1)=1.0
        (2, [0.0, 1.0], 0),      # cos(0,2)=cos(1,2)=0.0
        (3, [1.0, 0.0], 1),
        (4, [-1.0, 0.0], 1),     # cos(3,4)=-1.0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["bin_lo"]: r for r in pair_cosine_histogram(emb).collect()}
    assert set(out) == {1.0, 0.0, -1.0}
    assert out[1.0]["n_pairs"] == 1 and out[1.0]["min_cos"] == 1.0
    assert out[0.0]["n_pairs"] == 2
    assert out[-1.0]["n_pairs"] == 1 and out[-1.0]["max_cos"] == -1.0


def test_cc_converging_on_last_budgeted_round_is_not_a_failure(spark):
    """Regression (ADVICE r06): a fixpoint CONFIRMED on exactly the
    last budgeted round is convergence, not failure — the old
    ``rounds >= max_iterations`` check raised on it.  The star engine
    confirms an 8-chain's fixpoint on some round r; a budget of r must
    succeed while r - 1 (budget exhausted before the edge signature
    goes stable) must still raise."""
    from flink_kmeans_clustering_spark.operators.dedup import _cc_star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    ).localCheckpoint()
    _, r = _cc_star(chain, max_iterations=50)
    assert r >= 2
    labels, rounds = _cc_star(chain, max_iterations=r)
    assert rounds == r
    assert {(x["id"], x["comp"]) for x in labels.collect()} == {
        (i, 0) for i in range(9)
    }
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_star(chain, max_iterations=r - 1)
