"""Deterministic sampling + cardinality-estimation semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.functions.hashing import hash_bucket
from flink_kmeans_clustering_spark.operators.sampling import (
    approx_distinct,
    deterministic_sample,
)
from flink_kmeans_clustering_spark.sources.parquet import load_events

SF = "/root/testdata/sf0.01"


def test_sample_is_deterministic_and_near_rate(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s1 = deterministic_sample(docs, "text", rate=1 / 4)
    s2 = deterministic_sample(docs, "text", rate=1 / 4)
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # same sample every run, no RNG state
    n, total = len(ids1), docs.count()
    assert abs(n / total - 0.25) < 0.1  # binomial tolerance at n=500


def test_sample_nested_rates(spark):
    # a 1/16 sample is a strict subset of the 1/4 sample (bucket prefix
    # property) — lets pipelines grow a sample without resampling
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    small = {r["doc_id"] for r in deterministic_sample(docs, "text", 1 / 16).collect()}
    big = {r["doc_id"] for r in deterministic_sample(docs, "text", 1 / 4).collect()}
    assert small <= big


def test_hash_bucket_range(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mm = docs.select(hash_bucket(F.col("text"), 16).alias("b")).agg(
        F.min("b"), F.max("b")
    ).collect()[0]
    assert mm[0] >= 0 and mm[1] <= 15


def test_approx_distinct_within_rsd(spark):
    ev = load_events(spark, SF)
    approx = {
        r["event_type"]: r["approx_user_id"]
        for r in approx_distinct(ev, ["user_id"], group_by=["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for t, e in exact.items():
        assert abs(approx[t] - e) / e < 0.15, (t, approx[t], e)


def test_partitioned_parquet_sink_roundtrip(spark, tmp_path):
    from flink_kmeans_clustering_spark.sinks.parquet import write_partitioned
    from pyspark.sql import functions as F2

    ev = load_events(spark, SF).withColumn(
        "event_date", F2.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_parted")
    write_partitioned(ev, out, ["event_type"], max_records_per_file=5000)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning: a type filter reads only that directory
    import os
    assert any(d.startswith("event_type=") for d in os.listdir(out))
    one = back.filter(F2.col("event_type") == "click").count()
    want = ev.filter(F2.col("event_type") == "click").count()
    assert one == want


def test_stratified_sample_rates_and_nesting(spark):
    from flink_kmeans_clustering_spark.operators.sampling import (
        stratified_hash_sample,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.01")
    half = stratified_hash_sample(
        ev, "event_type", {"click": 0.5, "view": 1.0}, key_col="event_id"
    )
    quarter = stratified_hash_sample(
        ev, "event_type", {"click": 0.25, "view": 1.0}, key_col="event_id"
    )
    by_type = {r["event_type"]: r["n"] for r in half.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    total = {r["event_type"]: r["n"] for r in ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    # unlisted strata dropped entirely; view kept whole; click ~half
    assert set(by_type) == {"click", "view"}
    assert by_type["view"] == total["view"]
    assert abs(by_type["click"] / total["click"] - 0.5) < 0.1
    # nested-sample property: the 25% click sample is a subset of the 50%
    q_ids = {r["event_id"] for r in quarter.filter("event_type = 'click'")
             .select("event_id").collect()}
    h_ids = {r["event_id"] for r in half.filter("event_type = 'click'")
             .select("event_id").collect()}
    assert q_ids <= h_ids


def test_stratified_sample_is_narrow(spark):
    from flink_kmeans_clustering_spark.operators.sampling import (
        stratified_hash_sample,
    )
    from flink_kmeans_clustering_spark.plans import shuffle_count
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.01")
    out = stratified_hash_sample(ev, "event_type", {"click": 0.5}, key_col="event_id")
    assert shuffle_count(out) == 0


def test_train_val_test_split_deterministic_and_partitioned(spark):
    from flink_kmeans_clustering_spark.operators.sampling import (
        train_val_test_split,
    )

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    s1 = train_val_test_split(docs, "doc_id")
    # every row gets exactly one split; repartitioning changes nothing
    a = {r["doc_id"]: r["split"] for r in s1.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(docs.repartition(13), "doc_id").collect()
    }
    assert a == b and len(a) == 1000
    frac = {s: sum(1 for v in a.values() if v == s) / 1000 for s in ("train", "val", "test")}
    # expected 12/2/2 of 16 buckets ± sampling noise
    assert 0.68 < frac["train"] < 0.82
    assert 0.08 < frac["val"] < 0.18 and 0.08 < frac["test"] < 0.18


def test_train_val_test_split_validates_budget(spark):
    import pytest as _pytest

    from flink_kmeans_clustering_spark.operators.sampling import (
        train_val_test_split,
    )

    docs = spark.range(10).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        train_val_test_split(docs, "doc_id", val_buckets=8, test_buckets=8)


def test_cms_heavy_hitters_upper_bound_and_exact_on_sparse(spark):
    from flink_kmeans_clustering_spark.operators.sampling import cms_heavy_hitters

    docs = spark.createDataFrame(
        [(0, "spark " * 10 + "row " * 5 + "scan"), (1, "spark row key")],
        "doc_id long, text string",
    )
    rows = {r["token"]: r for r in cms_heavy_hitters(docs, top_n=4).collect()}
    assert rows["spark"]["exact_freq"] == 11
    # CMS never underestimates
    for r in rows.values():
        assert r["cms_estimate"] >= r["exact_freq"]
    # with 4 tokens in a 4x256 sketch, collisions are (deterministically)
    # absent here: estimates are exact
    assert all(r["cms_estimate"] == r["exact_freq"] for r in rows.values())


def test_cms_heavy_hitters_empty(spark):
    from flink_kmeans_clustering_spark.operators.sampling import cms_heavy_hitters

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert cms_heavy_hitters(empty).count() == 0


def test_weighted_sample_formula_and_determinism(spark):
    import hashlib
    import math

    from flink_kmeans_clustering_spark.operators.sampling import weighted_sample

    rows = [(i, float(10 + 7 * i)) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, "doc_id", "w", k=10).collect()
    assert len(got) == 10

    def es_key(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return round(math.log((h + 1.0) / 4294967296.0) / w, 6)

    want = sorted(rows, key=lambda r: (-es_key(*r), r[0]))[:10]
    assert [(r["doc_id"], r["weight"]) for r in got] == want
    # re-run: byte-identical (content hash, no RNG)
    again = weighted_sample(df, "doc_id", "w", k=10).collect()
    assert got == again


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from flink_kmeans_clustering_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 5.0)], "doc_id long, w double"
    )
    got = weighted_sample(df, "doc_id", "w", k=10).collect()
    assert [r["doc_id"] for r in got] == [3]


def test_compact_small_files_counts_and_fidelity(spark, tmp_path):
    from flink_kmeans_clustering_spark.sinks.parquet import compact_small_files

    src, dst = str(tmp_path / "small"), str(tmp_path / "big")
    df = spark.range(10_000).withColumnRenamed("id", "v")
    df.repartition(25).write.parquet(src)
    before, after = compact_small_files(
        spark, src, dst, target_rows_per_file=4096
    )
    assert (before, after) == (25, 3)  # ceil(10000/4096) = 3
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg({"v": "sum"}).collect()[0][0] == 10_000 * 9_999 // 2


def test_jsonl_roundtrip_preserves_text_exactly(spark, tmp_path):
    """Escapes, quotes, newlines, unicode — the characters JSONL
    encoding actually touches — must survive the write/read cycle
    byte-for-byte."""
    from flink_kmeans_clustering_spark.sources.json import (
        read_jsonl,
        write_jsonl,
    )

    rows = [
        (0, 'quote " backslash \\ tab \t'),
        (1, "newline \n inside"),
        (2, "unicode naïve café 中文 🙂"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(df, p)
    back = read_jsonl(spark, p, "doc_id bigint, text string")
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got == dict(rows)


def test_jsonl_failfast_raises_on_corrupt_line(spark, tmp_path):
    import pytest as _pytest

    from flink_kmeans_clustering_spark.sources.json import read_jsonl

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text('{"doc_id": 1}\nnot json at all\n')
    with _pytest.raises(Exception):
        read_jsonl(spark, str(p), "doc_id bigint").collect()


def test_custom_datasource_parallelism_and_determinism(spark):
    """The Python DataSource must honor its declared split layout (one
    task per partition, contiguous non-overlapping id ranges) and
    produce identical data at any partitioning."""
    from flink_kmeans_clustering_spark.sources.pyds import (
        make_synthetic_readings_datasource,
        synth_value,
    )

    try:
        spark.dataSource.register(make_synthetic_readings_datasource())
    except Exception:
        pass

    def load(parts):
        return (
            spark.read.format("synthetic_readings")
            .option("rows", 997)  # prime: uneven tail partition
            .option("partitions", parts)
            .load()
        )

    a = load(4).collect()
    assert len(a) == 997
    assert sorted(r["id"] for r in a) == list(range(997))
    assert load(4).rdd.getNumPartitions() == 4
    b = load(7).collect()
    assert {(r["id"], r["reading"]) for r in a} == {
        (r["id"], r["reading"]) for r in b
    }
    assert all(r["reading"] == synth_value(r["id"]) for r in a)


def test_mixture_sample_hits_target_proportions(spark):
    """The derived per-stratum rates must land the output within one
    bucket quantum (1/256) of the target mix, be reproducible under
    repartitioning, and drop unlisted strata."""
    from flink_kmeans_clustering_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    targets = {"src1": 0.5, "src2": 0.3, "src3": 0.2}
    out = mixture_sample(docs, "source", targets, "doc_id")
    mix = {r["source"]: r["n"] for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert set(mix) <= set(targets)
    total = sum(mix.values())
    for s, t in targets.items():
        assert abs(mix.get(s, 0) / total - t) < 0.05, (s, mix, total)
    again = mixture_sample(docs.repartition(7), "source", targets, "doc_id")
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0


def test_kmv_estimate_tracks_exact_distinct(spark):
    """KMV with k=64 has relative standard error ~1/√(k−2) ≈ 13%; on
    the events table the per-type estimate must land within 3σ of the
    exact distinct count, and below-k groups must be EXACT."""
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.sampling import kmv_distinct
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.01")
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    est = {
        r["event_type"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(ev, "user_id", "event_type", k=64).collect()
    }
    assert set(est) == set(exact)
    for t, d in exact.items():
        n_kept, e = est[t]
        if d < 64:
            assert n_kept == d and e == float(d), (t, d, est[t])
        else:
            assert abs(e - d) / d < 3 * (1 / 62**0.5), (t, d, e)


def test_sampled_quantiles_track_exact(spark):
    """The 1/4 hash sample's exact percentiles must sit near the
    full-data percentiles (value is ~uniform per type here, so the
    median tolerance is loose but meaningful)."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        sampled_quantiles,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.01")
    got = {
        r["event_type"]: r
        for r in sampled_quantiles(
            ev, "value", "event_id", "event_type", rate=1 / 4
        ).collect()
    }
    import pyspark.sql.functions as F

    full = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5d)").alias("q50"),
            F.expr("percentile(value, 0.9d)").alias("q90"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    for t, f in full.items():
        g = got[t]
        # ~n/4 rows sampled (binomial, loose 3σ-ish bound)
        assert abs(g["n_sampled"] - f["n"] / 4) < 4 * (f["n"] / 4) ** 0.5 + 10
        spread = abs(f["q90"] - f["q50"]) + 1e-9
        assert abs(g["q50"] - f["q50"]) < 0.5 * spread, (t, g["q50"], f["q50"])


def test_temperature_sampling_flattens_mixture(spark):
    """alpha = 0.5 must shift the output mix toward uniform: the
    dominant stratum's output share sits BETWEEN its input share and
    uniform, and small strata gain share (or keep ~all their rows when
    the rate bound caps at 1)."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "big") for i in range(900)] + [
        (i + 1000, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture_sample(df, "source", "doc_id", alpha=0.5)
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    n = sum(got.values())
    # input big-share 0.9; sqrt-flattened target 0.75
    assert 0.6 < got["big"] / n < 0.9
    assert got["small"] / n > 0.1
    # the binding stratum keeps (nearly) everything: rate quantizes to
    # <= 1 of 256 buckets below the exact bound
    assert got["small"] >= 90


def test_kmv_invariant_under_duplication_and_partitioning(spark):
    """The KMV estimate depends only on the DISTINCT value set: event
    duplication and arbitrary repartitioning must not move it by a
    single bit (the sketch's determinism contract)."""
    from flink_kmeans_clustering_spark.operators.sampling import kmv_distinct
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    base = {
        (r["event_type"], r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(ev, "user_id", "event_type", k=32).collect()
    }
    doubled = ev.unionByName(ev).repartition(13)
    got = {
        (r["event_type"], r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(doubled, "user_id", "event_type", k=32).collect()
    }
    assert got == base


def test_kcenter_greedy_picks_and_distances(spark):
    from flink_kmeans_clustering_spark.operators.sampling import kcenter_sample

    pts = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 0.0]),
            (2, [5.0, 0.0]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = kcenter_sample(pts, k=3).orderBy("rank").collect()
    # seed = lowest id; then farthest-point greedy
    assert [(r["rank"], r["vec_id"], r["dist2"]) for r in rows] == [
        (0, 0, None),
        (1, 1, 100.0),   # (10,0) is farthest from (0,0)
        (2, 2, 25.0),    # (5,0): min(25 to seed, 25 to (10,0)) beats (0,1)'s 1
    ]


def test_kcenter_tie_breaks_to_lowest_id(spark):
    from flink_kmeans_clustering_spark.operators.sampling import kcenter_sample

    pts = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = kcenter_sample(pts, k=2).orderBy("rank").collect()
    assert [r["vec_id"] for r in rows] == [0, 1]  # d2=1.0 tie -> lowest id


def test_kcenter_k1_is_seed_only(spark):
    from flink_kmeans_clustering_spark.operators.sampling import kcenter_sample

    pts = spark.createDataFrame(
        [(7, [1.0, 2.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = kcenter_sample(pts, k=1).collect()
    assert [(r["rank"], r["vec_id"], r["dist2"]) for r in rows] == [(0, 3, None)]


def test_domain_cap_selects_md5_lottery_winners(spark):
    import hashlib

    from flink_kmeans_clustering_spark.operators.sampling import domain_cap

    rows = [(i, f"s{i % 2}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        r["source"]: (r["n_total"], r["n_kept"], r["kept_id_sum"])
        for r in domain_cap(df, cap=2).collect()
    }
    # replay the lottery in python: rank by (md5(str(id)), id) per source
    for s in ("s0", "s1"):
        ids = [i for i, src in rows if src == s]
        kept = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:2]
        assert got[s] == (5, 2, sum(kept))


def test_domain_cap_under_cap_keeps_all(spark):
    from flink_kmeans_clustering_spark.operators.sampling import domain_cap

    df = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, source string")
    [r] = domain_cap(df, cap=10).collect()
    assert (r["n_total"], r["n_kept"], r["kept_id_sum"]) == (2, 2, 3)


def test_token_budget_sample_crossing_doc_taken(spark):
    """The doc whose exclusive running total crosses the budget is
    KEPT (floor-filler semantics), later docs are cut; every non-empty
    domain contributes at least one doc even when its first lottery
    draw alone exceeds the budget; per-domain overrides apply."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [
        # domain a: three docs of 4 tokens each
        (1, "a", "one two three four"),
        (2, "a", "five six seven eight"),
        (3, "a", "nine ten eleven twelve"),
        # domain b: single 6-token doc, budget 1 -> still kept
        (10, "b", "a b c d e f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["source"]: r
        for r in token_budget_sample(
            df, budget=6, budgets={"b": 1}
        ).collect()
    }
    a, b = out["a"], out["b"]
    # lottery order in domain a by (md5(str(id)), id): replay in python
    import hashlib

    order = sorted(
        [1, 2, 3], key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    # exclusive cumsum of 4-token docs: 0, 4, 8 -> first two kept (0<6, 4<6)
    kept = order[:2]
    assert (a["budget"], a["n_docs"], a["n_kept"]) == (6, 3, 2)
    assert a["tokens_kept"] == 8 and a["kept_id_sum"] == sum(kept)
    assert (b["budget"], b["n_kept"], b["tokens_kept"]) == (1, 1, 6)


def test_group_aware_split_no_leakage(spark):
    """All members of a duplicate group share the root's split; the
    root is the min id; distinct texts split independently."""
    from flink_kmeans_clustering_spark.operators.sampling import group_aware_split

    rows = [
        (5, "same text"),
        (9, "same text"),
        (70, "same text"),
        (2, "other text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in group_aware_split(docs).collect()}
    assert {out[i]["group_root"] for i in (5, 9, 70)} == {5}
    assert len({out[i]["split"] for i in (5, 9, 70)}) == 1
    assert out[2]["group_root"] == 2
    # the split is the ROOT's bucket, not the member's
    [b5] = (
        spark.range(1)
        .select(hash_bucket(F.lit("5"), 16).alias("b"))
        .collect()
    )
    expect = "test" if b5["b"] < 2 else ("val" if b5["b"] < 4 else "train")
    assert out[70]["split"] == expect


def test_token_budget_monotone_in_budget(spark):
    """A larger budget never keeps fewer docs or tokens, and the kept
    set grows monotonically (same lottery order, higher cutoff)."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [
        (i, f"s{i % 3}", " ".join(["tok"] * (3 + i % 7))) for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    prev = None
    for budget in (5, 20, 60, 10_000):
        got = {
            r["source"]: (r["n_kept"], r["tokens_kept"], r["kept_id_sum"])
            for r in token_budget_sample(docs, budget=budget).collect()
        }
        if prev is not None:
            for s in got:
                assert got[s][0] >= prev[s][0]
                assert got[s][1] >= prev[s][1]
        prev = got
    # unbounded budget keeps everything
    total = {
        r["source"]: r["tokens_total"]
        for r in token_budget_sample(docs, budget=10_000).collect()
    }
    assert all(prev[s][1] == total[s] for s in total)


def test_group_split_shrink_property(spark):
    """Shrinking test/val buckets yields SUBSET splits (the same
    prefix property the per-doc split guarantees) — groups never jump
    between train and a shrunken eval split."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        group_aware_split,
    )

    docs = spark.createDataFrame(
        [(i, f"text-{i % 40}") for i in range(120)],
        "doc_id long, text string",
    )
    wide = {
        r["doc_id"]: r["split"]
        for r in group_aware_split(docs, val_buckets=4, test_buckets=4).collect()
    }
    narrow = {
        r["doc_id"]: r["split"]
        for r in group_aware_split(docs, val_buckets=2, test_buckets=2).collect()
    }
    n_test = {i for i, s in narrow.items() if s == "test"}
    w_test = {i for i, s in wide.items() if s == "test"}
    assert n_test <= w_test
    # train in the wide layout stays train in the narrow one
    for i, s in wide.items():
        if s == "train":
            assert narrow[i] == "train"


def test_epoch_upsample_semantics(spark):
    """m=2.5 -> every doc twice plus the deterministic half-share a
    third time; m=0.25 -> quarter-share once; default 1.0 passthrough;
    m=0 drops the stratum entirely."""
    import hashlib

    from flink_kmeans_clustering_spark.operators.sampling import (
        epoch_upsample,
    )

    rows = [(i, f"s{i % 4}") for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_upsample(
        docs, {"s0": 2.5, "s1": 0.25, "s3": 0.0}
    ).collect()
    got = {(r["source"], r["epoch"]): (r["n_docs"], r["id_sum"]) for r in out}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16) % 256

    s0 = [i for i, s in rows if s == "s0"]
    s0_extra = [i for i in s0 if bucket(i) < 128]
    assert got[("s0", 0)] == (20, sum(s0))
    assert got[("s0", 1)] == (20, sum(s0))
    assert got[("s0", 2)] == (len(s0_extra), sum(s0_extra))
    s1 = [i for i, s in rows if s == "s1"]
    s1_keep = [i for i in s1 if bucket(i) < 64]
    assert got[("s1", 0)] == (len(s1_keep), sum(s1_keep))
    s2 = [i for i, s in rows if s == "s2"]
    assert got[("s2", 0)] == (20, sum(s2))
    assert not any(s == "s3" for s, _ in got)
    assert set(e for _, e in got) <= {0, 1, 2}


def test_epoch_upsample_is_shuffle_free_expansion(spark):
    """The row expansion itself is a narrow Generate — the only
    exchange is the final census aggregate."""
    from flink_kmeans_clustering_spark.operators.sampling import (
        epoch_upsample,
    )
    from flink_kmeans_clustering_spark.plans import assert_max_shuffles

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert_max_shuffles(epoch_upsample(docs, {"src0": 2.5}), 1)


def test_epoch_upsample_honors_buckets_param(spark):
    """Regression (VERDICT r06 / ADVICE): the fractional-share
    threshold is computed in the caller's ``buckets`` domain, so the
    hash draw must use the SAME domain — the old hardcoded 256 draw
    silently halved fractional rates for buckets=128 callers.  With
    buckets=64 and m=1.5, keep = int(1.5*64) - 64 = 32 of 64 buckets:
    exactly the md5-bucket-in-[0,32) docs repeat."""
    import hashlib

    from flink_kmeans_clustering_spark.operators.sampling import (
        epoch_upsample,
    )

    rows = [(i, "s0") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_upsample(docs, {"s0": 1.5}, buckets=64).collect()
    got = {(r["source"], r["epoch"]): (r["n_docs"], r["id_sum"]) for r in out}

    def bucket64(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16) % 64

    ids = [i for i, _ in rows]
    extra = [i for i in ids if bucket64(i) < 32]
    assert got[("s0", 0)] == (200, sum(ids))
    assert got[("s0", 1)] == (len(extra), sum(extra))
    # the m=1.5 fractional share must actually be ~half, not ~quarter
    assert 0.35 <= len(extra) / 200 <= 0.65
