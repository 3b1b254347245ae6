"""Unit tests for events/time-series operators on tiny hand-checked data."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.events import (
    extract_props,
    sessionize,
    top_events_per_user,
    tumbling_window_agg,
    type_date_rollup,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _events(spark):
    rows = [
        (0, _ts(0), 1, "click", 1.0, '{"k": 5}'),
        (1, _ts(10), 1, "view", 2.0, '{"k": 6}'),
        # 40-min gap for user 1 -> new session
        (2, _ts(50), 1, "click", 4.0, '{"k": 7}'),
        (3, _ts(5), 2, "view", 8.0, '{"k": 1}'),
        # same value as event 4 -> event_id tie-break in top-k
        (4, _ts(59), 2, "view", 8.0, '{"k": 2}'),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_sessionize_gap_splits(spark):
    out = sessionize(_events(spark), gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2  # 40-min gap split
    assert len(by_user[2]) == 2  # 54-min gap split
    s1 = sorted(by_user[1], key=lambda r: r["session_seq"])
    assert s1[0]["n_events"] == 2 and s1[0]["sum_value"] == 3.0
    assert s1[1]["n_events"] == 1 and s1[1]["sum_value"] == 4.0


def test_sessionize_gap_exactly_on_boundary(spark):
    # 30:00 gap is NOT > 30 min -> same session
    rows = [
        (0, _ts(0), 1, "click", 1.0, "{}"),
        (1, _ts(30), 1, "click", 1.0, "{}"),
        (2, _ts(30, 1), 1, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = sessionize(df, gap_minutes=30).collect()
    assert len(out) == 1 and out[0]["n_events"] == 3


def test_tumbling_window_counts(spark):
    out = tumbling_window_agg(_events(spark), window="30 minutes").collect()
    got = {(r["window_start"], r["event_type"]): r["n_events"] for r in out}
    assert got[("2024-01-01 00:00", "click")] == 1
    assert got[("2024-01-01 00:00", "view")] == 2
    assert got[("2024-01-01 00:30", "click")] == 1
    assert got[("2024-01-01 00:30", "view")] == 1


def test_topk_tie_break_by_event_id(spark):
    out = top_events_per_user(_events(spark), k=1).collect()
    winner = {r["user_id"]: r["event_id"] for r in out}
    assert winner[2] == 3  # value tie (8.0) -> lower event_id wins
    assert winner[1] == 2


def test_extract_props_typed(spark):
    out = {r["event_id"]: r["prop_k"] for r in extract_props(_events(spark)).collect()}
    assert out == {0: 5, 1: 6, 2: 7, 3: 1, 4: 2}


def test_rollup_has_grand_total(spark):
    out = type_date_rollup(_events(spark)).collect()
    rows = {(r["event_type"], r["event_date"]): r["n_events"] for r in out}
    assert rows[("ALL", "ALL")] == 5
    assert rows[("view", "ALL")] == 3
    assert rows[("view", "2024-01-01")] == 3


def test_cube_has_all_subtotal_combinations(spark):
    from flink_kmeans_clustering_spark.operators.events import type_date_cube

    out = type_date_cube(_events(spark)).collect()
    rows = {(r["event_type"], r["event_date"]): r["n_events"] for r in out}
    assert rows[("ALL", "ALL")] == 5
    assert rows[("view", "ALL")] == 3
    assert rows[("ALL", "2024-01-01")] == 5  # cube adds the per-date slice


def test_asof_join_matches_latest_prior(spark):
    from flink_kmeans_clustering_spark.operators.events import asof_join

    import datetime as dtm

    rows = [
        # user 1: views at t=0 and t=10, purchases at t=5 and t=10
        (0, _ts(0), 1, "view", 1.0, "{}"),
        (1, _ts(5), 1, "purchase", 2.0, "{}"),
        (2, _ts(10), 1, "view", 3.0, "{}"),
        (3, _ts(10), 1, "purchase", 4.0, "{}"),  # equal ts -> `<=` match
        # user 2: purchase with no prior view
        (4, _ts(1), 2, "purchase", 5.0, "{}"),
        (5, _ts(2), 2, "view", 6.0, "{}"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["event_id"]: r for r in asof_join(df, "purchase", "view").collect()}
    assert out[1]["matched_id"] == 0  # t=5 purchase -> t=0 view
    assert out[3]["matched_id"] == 2  # t=10 purchase -> t=10 view (<=)
    assert out[3]["gap_us"] == 0
    assert out[4]["matched_id"] is None  # no prior view
    assert out[1]["gap_us"] == 5 * 60 * 1_000_000


def test_running_window_cumulative(spark):
    from flink_kmeans_clustering_spark.operators.events import running_user_window

    out = running_user_window(_events(spark)).collect()
    u1 = sorted((r for r in out if r["user_id"] == 1), key=lambda r: r["event_idx"])
    assert [r["running_value"] for r in u1] == [1.0, 3.0, 7.0]
    assert u1[0]["delta_prev"] is None
    assert u1[1]["delta_prev"] == 1.0


def test_pivot_unpivot_roundtrip(spark):
    from flink_kmeans_clustering_spark.operators.events import (
        EVENT_TYPES,
        daily_type_pivot,
    )

    wide = daily_type_pivot(_events(spark))
    rows = {r["event_date"]: r for r in wide.collect()}
    assert rows["2024-01-01"]["view"] == 3
    assert rows["2024-01-01"]["click"] == 2
    # unpivot is the inverse of the pivot, up to zero-count rows
    long = wide.unpivot(
        ids=["event_date"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="n_events",
    )
    back = {
        (r["event_date"], r["event_type"]): r["n_events"] for r in long.collect()
    }
    assert back[("2024-01-01", "view")] == 3
    assert back[("2024-01-01", "purchase")] == 0  # zero-filled wide slot


def test_approx_quantiles_within_rank_error(spark):
    from pyspark.sql import functions as F

    from flink_kmeans_clustering_spark.operators.events import (
        approx_value_quantiles,
        value_quantiles,
    )
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    ev = load_events(spark, "/root/testdata/sf0.01")
    exact = {r["event_type"]: r for r in value_quantiles(ev).collect()}
    approx = {r["event_type"]: r for r in approx_value_quantiles(ev).collect()}
    # GK guarantees rank error <= 1/accuracy; translate to a loose value
    # tolerance via the per-type value spread
    spread = {
        r["event_type"]: r["mx"] - r["mn"]
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    assert set(exact) == set(approx)
    for t in exact:
        for p in ("p25", "p50", "p75"):
            assert abs(exact[t][p] - approx[t][p]) <= 0.05 * spread[t] + 1e-6


def test_funnel_monotone_and_strictly_after(spark):
    from flink_kmeans_clustering_spark.operators.events import funnel_counts

    df = spark.createDataFrame(
        [
            # u1 completes the funnel in order
            (1, "view", "2024-01-01 10:00:00"),
            (1, "click", "2024-01-01 10:01:00"),
            (1, "purchase", "2024-01-01 10:02:00"),
            # u2 clicks BEFORE viewing -> stops at stage 1
            (2, "click", "2024-01-01 09:00:00"),
            (2, "view", "2024-01-01 09:30:00"),
            # u3 view+click simultaneous -> click not strictly after
            (3, "view", "2024-01-01 08:00:00"),
            (3, "click", "2024-01-01 08:00:00"),
            # u4 never views
            (4, "purchase", "2024-01-01 07:00:00"),
        ],
        "user_id long, event_type string, ts_s string",
    ).select("user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = {r["stage"]: r for r in funnel_counts(df).collect()}
    assert rows[1]["users"] == 3   # u1, u2, u3 viewed
    assert rows[2]["users"] == 1   # only u1 clicked strictly after viewing
    assert rows[3]["users"] == 1
    assert rows[1]["users"] >= rows[2]["users"] >= rows[3]["users"]


def test_daily_retention_counts(spark):
    from flink_kmeans_clustering_spark.operators.events import daily_retention

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-02 10:00:00"),  # retained
            (2, "2024-01-01 11:00:00"),  # churns
            (2, "2024-01-03 11:00:00"),  # returns after a gap (not day+1)
            (3, "2024-01-02 09:00:00"),
            (3, "2024-01-03 09:00:00"),  # retained
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = {r["day"]: r for r in daily_retention(df).collect()}
    assert rows["2024-01-01"]["active_users"] == 2
    assert rows["2024-01-01"]["retained_next_day"] == 1
    assert rows["2024-01-01"]["retention_rate"] == 0.5
    assert rows["2024-01-02"]["active_users"] == 2
    assert rows["2024-01-02"]["retained_next_day"] == 1
    assert rows["2024-01-03"]["retained_next_day"] == 0


def test_trailing_active_users_window(spark):
    from flink_kmeans_clustering_spark.operators.events import trailing_active_users

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (2, "2024-01-03 10:00:00"),
            (1, "2024-01-08 10:00:00"),  # day 1 falls OUT of day-8's 7-day window
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = {r["day"]: r["active_users_trailing"] for r in trailing_active_users(df).collect()}
    # only days with their own activity appear
    assert set(rows) == {"2024-01-01", "2024-01-03", "2024-01-08"}
    assert rows["2024-01-01"] == 1
    assert rows["2024-01-03"] == 2          # users 1 (Jan 1) and 2 (Jan 3)
    assert rows["2024-01-08"] == 2          # user 2 (Jan 3) + user 1 (Jan 8); Jan 1 aged out


def test_first_event_per_day_picks_earliest_with_id_tiebreak(spark):
    from flink_kmeans_clustering_spark.operators.events import first_event_per_day
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (1, 10, dt.datetime(2024, 1, 1, 8, 0), "view", 1.0),
            (1, 11, dt.datetime(2024, 1, 1, 9, 0), "click", 2.0),
            # same-instant tie on day 2: lower event_id wins
            (1, 21, dt.datetime(2024, 1, 2, 7, 0), "view", 3.0),
            (1, 20, dt.datetime(2024, 1, 2, 7, 0), "click", 4.0),
            (2, 30, dt.datetime(2024, 1, 1, 23, 59), "buy", 5.0),
        ],
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double",
    )
    rows = {(r["user_id"], r["day"]): r for r in first_event_per_day(ev).collect()}
    assert len(rows) == 3
    assert rows[(1, "2024-01-01")]["event_id"] == 10
    assert rows[(1, "2024-01-02")]["event_id"] == 20  # tie -> lower id
    assert rows[(2, "2024-01-01")]["event_type"] == "buy"


def test_event_type_runs_islands(spark):
    from flink_kmeans_clustering_spark.operators.events import event_type_runs
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 12, m)
    ev = spark.createDataFrame(
        [
            (1, 10, t(0), "view", 0.0),
            (1, 11, t(1), "view", 0.0),
            (1, 12, t(2), "click", 0.0),
            (1, 13, t(3), "view", 0.0),  # view again: NEW run, not merged
            (2, 20, t(0), "buy", 0.0),
        ],
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double",
    )
    runs = sorted(
        event_type_runs(ev).collect(), key=lambda r: (r["user_id"], r["run_id"])
    )
    assert [(r["user_id"], r["event_type"], r["run_len"]) for r in runs] == [
        (1, "view", 2),
        (1, "click", 1),
        (1, "view", 1),
        (2, "buy", 1),
    ]
    assert runs[0]["start_us"] < runs[0]["end_us"]


def test_match_pattern_strict_contiguity(spark):
    """An interloping event between the steps breaks the match (unlike
    funnel's relaxed ordering); 3-step form works too."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import match_pattern

    t = lambda m: dt.datetime(2024, 1, 1, 12, m)
    ev = spark.createDataFrame(
        [
            (1, 10, t(0), "view", 0.0),
            (1, 11, t(1), "click", 0.0),
            (1, 12, t(2), "purchase", 0.0),
            (2, 20, t(0), "view", 0.0),
            (2, 21, t(1), "error", 0.0),   # interloper: breaks adjacency
            (2, 22, t(2), "click", 0.0),
            (3, 30, t(0), "view", 0.0),
            (3, 31, t(45), "click", 0.0),  # adjacent but outside 30 min
        ],
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double",
    )
    two = match_pattern(ev, ["view", "click"]).collect()
    assert [(r["user_id"], r["start_id"]) for r in two] == [(1, 10)]
    three = match_pattern(ev, ["view", "click", "purchase"]).collect()
    assert [(r["user_id"], r["start_id"], r["span_us"]) for r in three] == [
        (1, 10, 120_000_000)
    ]
    import pytest

    with pytest.raises(ValueError):
        match_pattern(ev, ["view"])


def test_band_join_bucketed_equals_naive(spark):
    """The bucket-rewrite must equal the naive BETWEEN join exactly,
    including boundary values landing in the half-open [lo, hi) band."""
    from flink_kmeans_clustering_spark.operators.events import (
        VALUE_BANDS,
        band_join_bucketed,
    )
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(float(v),) for v in (0.0, 4.999, 5.0, 19.9, 20.0, 60.0, 85.0, 99.5)],
        "value double",
    )
    got = {
        r["band"]: (r["n_events"], r["sum_value"])
        for r in band_join_bucketed(ev, bucket_width=10.0).collect()
    }
    bands_df = spark.createDataFrame(
        list(VALUE_BANDS), "band string, lo double, hi double"
    )
    naive = {
        r["band"]: (r["n_events"], r["sum_value"])
        for r in ev.join(
            bands_df,
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .collect()
    }
    assert got == naive
    assert got["tiny"][0] == 2  # 0.0 and 4.999; 5.0 went to 'small'


def test_ewma_recurrence_known_sequence(spark):
    from flink_kmeans_clustering_spark.operators.events import ewma_per_user

    rows = [
        (1, 7, "2024-01-01 00:00:00", 10.0),
        (2, 7, "2024-01-01 00:01:00", 20.0),
        (3, 7, "2024-01-01 00:02:00", 30.0),
        (4, 9, "2024-01-01 00:00:30", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_per_user(df, alpha=0.5, round_to=None).collect()
    }
    assert got[1] == 10.0
    assert got[2] == 0.5 * 20.0 + 0.5 * 10.0
    assert got[3] == 0.5 * 30.0 + 0.5 * (0.5 * 20.0 + 0.5 * 10.0)
    assert got[4] == 5.0  # independent user starts fresh


def test_ewma_partitioning_invariance(spark):
    """The fold's result cannot depend on how input rows were split
    across partitions (the group sort owns the order)."""
    from flink_kmeans_clustering_spark.operators.events import ewma_per_user
    from flink_kmeans_clustering_spark.sources.parquet import load_events
    from tests.conftest import SF_SMOKE

    ev = load_events(spark, SF_SMOKE)
    a = {
        (r["event_id"], r["ewma"])
        for r in ewma_per_user(ev.repartition(13)).collect()
    }
    b = {
        (r["event_id"], r["ewma"])
        for r in ewma_per_user(ev.coalesce(1)).collect()
    }
    assert a == b


def test_ohlc_known_candle(spark):
    from flink_kmeans_clustering_spark.operators.events import ohlc_downsample

    rows = [
        (1, "click", "2024-01-01 00:10:00", 5.0),
        (2, "click", "2024-01-01 01:00:00", 9.0),
        (3, "click", "2024-01-01 02:00:00", 1.0),
        (4, "click", "2024-01-01 05:59:59", 7.0),
        (5, "click", "2024-01-01 06:00:00", 2.0),  # next 6h bucket
        (6, "view", "2024-01-01 00:30:00", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string, value double"
    ).selectExpr(
        "event_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts", "value"
    )
    got = {
        (r["event_type"], r["bucket_start_us"]): (
            r["n"], r["open"], r["high"], r["low"], r["close"]
        )
        for r in ohlc_downsample(df, bucket_hours=6).collect()
    }
    day0 = 1704067200000000
    six_h = 21600000000
    assert got[("click", day0)] == (4, 5.0, 9.0, 1.0, 7.0)
    assert got[("click", day0 + six_h)] == (1, 2.0, 2.0, 2.0, 2.0)
    assert got[("view", day0)] == (1, 3.0, 3.0, 3.0, 3.0)


def test_ohlc_single_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.events import ohlc_downsample
    from flink_kmeans_clustering_spark.plans import assert_max_shuffles
    from flink_kmeans_clustering_spark.sources.parquet import load_events
    from tests.conftest import SF_SMOKE

    assert_max_shuffles(ohlc_downsample(load_events(spark, SF_SMOKE)), 1)


def test_cdc_apply_latest_wins_and_tombstone_removes(spark):
    import hashlib

    from flink_kmeans_clustering_spark.operators.events import cdc_apply

    def op_of(seq):  # replicate the md5 bucket rule
        return "D" if int(hashlib.md5(str(seq).encode()).hexdigest()[:2], 16) % 8 == 0 else "U"

    # find a seq id that maps to D and two that map to U
    d_seq = next(s for s in range(1000) if op_of(s) == "D")
    u1, u2 = [s for s in range(1000) if op_of(s) == "U"][:2]
    rows = [
        # user 1: U then U -> survives with latest value
        (u1, "2024-01-01 00:00:00", 1, 10.0),
        (u2, "2024-01-01 00:01:00", 1, 20.0),
        # user 2: U then D -> removed
        (u1 + 1000 if op_of(u1 + 1000) == "U" else u2 + 1000, "2024-01-01 00:00:00", 2, 30.0),
        (d_seq, "2024-01-01 00:05:00", 2, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, value double"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "value")
    got = {r["user_id"]: r for r in cdc_apply(df).collect()}
    assert set(got) == {1}
    assert got[1]["last_value"] == 20.0
    assert got[1]["n_ops"] == 2 and got[1]["n_deletes"] == 0


def test_cdc_apply_equal_ts_breaks_by_seq(spark):
    import hashlib

    from flink_kmeans_clustering_spark.operators.events import cdc_apply

    us = [s for s in range(1000)
          if int(hashlib.md5(str(s).encode()).hexdigest()[:2], 16) % 8 != 0][:2]
    lo, hi = sorted(us)
    df = spark.createDataFrame(
        [(lo, 5, 1.0), (hi, 5, 2.0)], "event_id long, user_id long, value double"
    ).selectExpr("event_id", "CAST('2024-01-01' AS TIMESTAMP) AS ts", "user_id", "value")
    [r] = cdc_apply(df).collect()
    assert r["last_value"] == 2.0  # higher seq wins the equal-ts tie


def test_cdc_apply_single_shuffle(spark):
    from flink_kmeans_clustering_spark.operators.events import cdc_apply
    from flink_kmeans_clustering_spark.plans import assert_max_shuffles
    from flink_kmeans_clustering_spark.sources.parquet import load_events

    df = cdc_apply(load_events(spark, "/root/testdata/sf0.001"))
    assert_max_shuffles(df, 1)


def test_rfm_segments_hand_fixture(spark):
    """Known medians → known segments.  4 users, thresholds from the
    full user set (every md5 bucket sampled at rate=1): recency median
    splits recent/stale, frequency/monetary split strictly-above."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import rfm_segments

    t0 = dt.datetime(2024, 1, 10, 12, 0)

    def ev(uid, days_ago, n, val):
        return [
            (uid, t0 - dt.timedelta(days=days_ago), float(val))
            for _ in range(n)
        ]

    rows = (
        ev(1, 0, 4, 10.0)    # recent, frequent, rich -> champion
        + ev(2, 0, 1, 1.0)   # recent, infrequent, poor -> promising
        + ev(3, 9, 4, 10.0)  # stale, frequent, rich -> at_risk
        + ev(4, 9, 1, 1.0)   # stale, infrequent, poor -> hibernating
    )
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    out = {r["user_id"]: r for r in rfm_segments(events, rate=1.0).collect()}
    assert out[1]["segment"] == "champion"
    assert out[2]["segment"] == "promising"
    assert out[3]["segment"] == "at_risk"
    assert out[4]["segment"] == "hibernating"
    assert out[1]["recency_days"] == 0 and out[3]["recency_days"] == 9
    assert out[1]["frequency"] == 4 and out[1]["monetary"] == 40.0
    # medians: recency 4.5, freq 2.5, monetary 20.5 -> r_hi iff recent
    assert out[2]["r_hi"] and not out[2]["f_hi"] and not out[2]["m_hi"]


def test_journey_transitions_hand_fixture(spark):
    """Known 2-user timeline -> known transition matrix; ts ties break
    by event_id; last event of a user emits no pair."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import (
        journey_transitions,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: view -> cart -> buy
        (1, t(0), 1, "view"), (2, t(1), 1, "cart"), (3, t(2), 1, "buy"),
        # user 2: view -> view (tie at same ts: event_id orders 4 then 5)
        (4, t(0), 2, "view"), (5, t(0), 2, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in journey_transitions(ev).collect()
    }
    assert out == {
        ("view", "cart"): (1, 0.5),
        ("view", "view"): (1, 0.5),
        ("cart", "buy"): (1, 1.0),
    }


def test_type_cooccurrence_lift(spark):
    """Hand-checkable lift: 4 users; types A,B co-occur for 2 of them,
    A appears for 3 users, B for 2, C for 1 alone.  lift(A,B) =
    (2/4) / ((3/4)(2/4)) = 4/3."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import (
        type_cooccurrence,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u, types in [(1, "AB"), (2, "AB"), (3, "A"), (4, "C")]:
        for c in types:
            rows.append((eid, t0, u, c)); eid += 1
    # duplicate event rows must not double-count (distinct user-type)
    rows.append((eid, t0, 1, "A"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = type_cooccurrence(ev).collect()
    assert len(out) == 1
    [r] = out
    assert (r["type_a"], r["type_b"], r["n_both"]) == ("A", "B", 2)
    assert r["lift"] == round(4 / 3, 6)


def test_last_touch_attribution_semantics(spark):
    """Strictly-prior latest click wins; the 30-min window gates
    attribution; no prior click -> NULL touch, not attributed; a later
    click never attributes an earlier purchase."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import (
        last_touch_attribution,
    )

    t = lambda m: dt.datetime(2024, 3, 1, 12, m)
    rows = [
        (1, t(0), 1, "click"),
        (2, t(5), 1, "click"),      # latest prior click for event 3
        (3, t(10), 1, "purchase"),  # attributed to 2 (300 s)
        (4, t(50), 1, "purchase"),  # touch 2 is 45 min old -> not attributed
        (5, t(0), 2, "purchase"),   # no prior click at all
        (6, t(1), 2, "click"),      # AFTER the purchase: must not count
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r["event_id"]: r for r in last_touch_attribution(ev).collect()}
    assert set(out) == {3, 4, 5}
    assert out[3]["touch_event_id"] == 2 and out[3]["secs_since_touch"] == 300
    assert out[3]["attributed"] is True
    assert out[4]["touch_event_id"] == 2 and out[4]["attributed"] is False
    assert out[4]["secs_since_touch"] == 2700
    assert out[5]["touch_event_id"] is None and out[5]["attributed"] is False
    assert out[3]["conv_ts"] == "2024-03-01 12:10:00"


def test_cohort_retention_matrix(spark):
    """Two cohorts, known comeback pattern; offset-0 cell is the
    cohort size; retention = n/size."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import (
        cohort_retention,
    )

    # Mondays: 2024-03-04 (w0), 2024-03-11 (w1), 2024-03-18 (w2)
    d = lambda day, h=9: dt.datetime(2024, 3, day, h)
    rows = [
        (1, d(4), 1, "view"),    # cohort w0
        (2, d(5), 2, "view"),    # cohort w0
        (3, d(12), 1, "click"),  # u1 back in w1
        (4, d(19), 1, "view"),   # u1 back in w2
        (5, d(13), 3, "view"),   # cohort w1
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r["cohort_week"], r["week_offset"]): r
        for r in cohort_retention(ev).collect()
    }
    c0 = "2024-03-04"
    assert out[(c0, 0)]["n_users"] == 2 and out[(c0, 0)]["cohort_size"] == 2
    assert out[(c0, 1)]["n_users"] == 1 and out[(c0, 1)]["retention"] == 0.5
    assert out[(c0, 2)]["n_users"] == 1
    assert out[("2024-03-11", 0)]["cohort_size"] == 1
    assert len(out) == 4


def test_top_paths_order_and_cap(spark):
    """Paths take the FIRST max_events in (ts, id) order; counts rank
    descending with path tie-break; events past the cap are ignored."""
    import datetime as dt

    from flink_kmeans_clustering_spark.operators.events import top_paths

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    rows = []
    eid = 0
    for u, seq in [(1, "ABC"), (2, "ABC"), (3, "AB"), (4, "CBA")]:
        for i, c in enumerate(seq):
            rows.append((eid, t(i), u, c)); eid += 1
    # user 5: 4 events but cap=3 -> only first three in the path
    for i, c in enumerate("ABCD"):
        rows.append((eid, t(i), 5, c)); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = [(r["path"], r["n_users"]) for r in top_paths(ev, max_events=3).collect()]
    assert got[0] == ("A>B>C", 3)  # users 1, 2, 5 (capped)
    assert set(got[1:]) == {("A>B", 1), ("C>B>A", 1)}


def test_langid_confusion_zero_join(spark):
    """Declared label rides the detection scan (no join in the plan);
    cells sum to the corpus size."""
    from flink_kmeans_clustering_spark.operators.textstats import (
        langid_confusion,
    )
    from flink_kmeans_clustering_spark.plans import explain_str

    docs = spark.createDataFrame(
        [
            (0, "en", "the quick fox and the dog"),
            (1, "de", "der und die das ist ein"),
            (2, "en", "zzz qqq xxx"),  # no stopword hits -> 'und'
        ],
        "doc_id long, lang string, text string",
    )
    out = langid_confusion(docs)
    assert "Join" not in explain_str(out)
    cells = {(r["declared_lang"], r["pred_lang"]): r for r in out.collect()}
    assert cells[("en", "en")]["n_docs"] == 1
    assert cells[("en", "en")]["is_match"] is True
    assert cells[("de", "de")]["n_docs"] == 1
    assert cells[("en", "und")]["is_match"] is False
    assert sum(r["n_docs"] for r in cells.values()) == 3
