"""Scale-level numeric cross-checks for the rows-only sketch queries
(VERDICT r06 item 8).

The three rows-only registry entries are sketch/RNG internals no SQL
oracle can replay (HLL++ registers, GK summaries).  Each already has a
deterministic full-oracle TWIN; these tests close the remaining gap by
asserting the sketch and its twin agree NUMERICALLY at sf0.1 within
bands derived from the sketches' configured error:

* HLL++ (rsd 0.05) vs KMV at k=1024 (rsd ≈ 1/√(k−2) ≈ 0.031): the
  two independent cardinality estimators must land within 15% of each
  other (3σ of the combined rsd would allow 24%; observed 7.6%).
* GK approx_percentile (accuracy 10⁴ → rank error ≤ 10⁻⁴) vs the
  rate-1/4 hash-sampled exact quantiles (binomial rank σ ≈ 0.007 at
  ~5k sampled/type): both medians must sit within rank 0.5 ± their own
  band in the FULL distribution, and within 0.03 rank of each other.
"""

from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.1"


def test_hll_within_band_of_kmv_twin_at_sf01(spark):
    import __spark_entry__ as entrymod
    from flink_kmeans_clustering_spark.operators.sampling import kmv_distinct
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    hll = {
        r["event_type"]: r["approx_user_id"]
        for r in entrymod.q_events_approx_users(spark, SF01).collect()
    }
    kmv = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_distinct(
            load_events(spark, SF01), "user_id", "event_type", k=1024
        ).collect()
    }
    assert set(hll) == set(kmv) and len(hll) >= 2
    for t in hll:
        rel = abs(hll[t] - kmv[t]) / kmv[t]
        assert rel <= 0.15, f"{t}: HLL {hll[t]} vs KMV {kmv[t]} ({rel:.3f})"


def test_gk_and_sampled_quantiles_agree_in_rank_at_sf01(spark):
    import __spark_entry__ as entrymod
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    gk = {
        r["event_type"]: r["p50"]
        for r in entrymod.q_events_approx_quantiles(spark, SF01).collect()
    }
    sq = {
        r["event_type"]: r["q50"]
        for r in entrymod.q_events_sampled_quantiles(spark, SF01).collect()
    }
    assert set(gk) == set(sq)
    ev = load_events(spark, SF01).select("event_type", "value")
    # one pass: per-type empirical rank of both medians in the FULL data
    aggs = []
    for t in sorted(gk):
        tm = F.col("event_type") == t
        aggs += [
            (
                F.sum((tm & (F.col("value") <= gk[t])).cast("long"))
                / F.sum(tm.cast("long"))
            ).alias(f"gk_{t}"),
            (
                F.sum((tm & (F.col("value") <= sq[t])).cast("long"))
                / F.sum(tm.cast("long"))
            ).alias(f"sq_{t}"),
        ]
    row = ev.agg(*aggs).collect()[0]
    for t in gk:
        r_gk, r_sq = row[f"gk_{t}"], row[f"sq_{t}"]
        assert abs(r_gk - 0.5) <= 0.01, f"{t}: GK median rank {r_gk:.4f}"
        assert abs(r_sq - 0.5) <= 0.03, f"{t}: sampled median rank {r_sq:.4f}"
        assert abs(r_gk - r_sq) <= 0.03, f"{t}: twins {r_gk:.4f} vs {r_sq:.4f}"
