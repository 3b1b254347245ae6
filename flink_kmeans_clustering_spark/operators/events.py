"""Event/time-series operators over the ``events`` table
(event_id, ts, user_id, event_type, value, props-json).

Extends the reference surface (SURVEY.md §2.5 lists "window functions /
sorts / limits / set ops: none") with the time-series operators a
training-data pipeline needs: tumbling-window aggregation, gap-based
sessionization, per-key top-k ranking, JSON property extraction, and
hierarchical rollup.

Scale notes (100 TB posture):
* every operator is a single hash-shuffle on its natural key
  (window+type, user_id, or event_type) with map-side partial
  aggregation where applicable — no driver-side collection;
* timestamps are compared as epoch **microseconds** (``unix_micros`` /
  DuckDB ``epoch_us``) — integer-exact across engines, no tz or float
  ambiguity;
* window starts are emitted as formatted strings so the oracle hash is
  dtype-identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.functions.hashing import hash_bucket, md5_int

__all__ = [
    "asof_join",
    "extract_props",
    "props_stats_by_type",
    "running_user_window",
    "sessionize",
    "top_events_per_user",
    "tumbling_window_agg",
    "type_date_cube",
    "type_date_rollup",
]

TS_FMT = "yyyy-MM-dd HH:mm"


def tumbling_window_agg(
    df: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows: count + value sum per (window, type).

    ``F.window`` buckets by event time (epoch-aligned), the batch twin of
    the Structured Streaming windowed aggregation in
    ``streaming.windowed``.  One shuffle on (window, event_type) with
    partial aggregation before the exchange.
    """
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization (gaps-and-islands over a window spec).

    A new session starts when the gap to the user's previous event
    exceeds ``gap_minutes``.  Two window passes over one hash-partition
    by user (lag → running sum), then a grouped aggregate — Catalyst
    reuses the single Exchange for all three.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    prev = F.lag(ts_us).over(w)
    is_new = F.when(prev.isNull() | ((ts_us - prev) > gap_us), 1).otherwise(0)
    sessions = df.withColumn("_new", is_new).withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_us).alias("session_start_us"),
            F.max(ts_us).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def top_events_per_user(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-user top-k events by value (rank ties broken by event_id).

    The rank filter is the classic window top-k; at scale this is one
    shuffle by user plus a narrow filter — no global sort.
    """
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("user_id", "event_id", "event_type", "value", "rnk")
    )


def extract_props(df: DataFrame, key: str = "k") -> DataFrame:
    """Pull a typed value out of the JSON ``props`` column.

    ``get_json_object`` is a JVM-side JSON path scan — no Python, no
    full ``from_json`` schema materialization for a single key.
    """
    return df.select(
        "event_id",
        F.get_json_object("props", f"$.{key}").cast("int").alias("prop_k"),
    )


def props_stats_by_type(df: DataFrame, key: str = "k") -> DataFrame:
    """Aggregate the extracted JSON property per event_type."""
    k_val = F.get_json_object("props", f"$.{key}").cast("int")
    return df.groupBy("event_type").agg(
        F.count(k_val).alias("n_with_key"),
        F.sum(k_val).alias("sum_k"),
        F.min(k_val).alias("min_k"),
        F.max(k_val).alias("max_k"),
    )


def asof_join(
    df: DataFrame,
    left_type: str,
    right_type: str,
    gap_col: str = "gap_us",
) -> DataFrame:
    """Event-time as-of join: each ``left_type`` event matched to the
    user's most recent ``right_type`` event at-or-before it.

    Spark has no native ASOF JOIN; a sort-merge between the sides would
    need a range condition (quadratic under skew).  This is the
    union-and-carry formulation instead: tag both sides, order each
    user's rows by (event time, side), and carry the latest right-side
    row forward with ``last(..., ignorenulls)``.  One hash shuffle by
    user + one window pass — linear, skew-bounded by the busiest user,
    no join explosion.  The right side is first reduced to one row per
    (user, timestamp) (max event_id) so ties are deterministic.

    Output: one row per left event with the matched right event id,
    its timestamp, and the gap (NULL when no prior right event).
    """
    ts_us = F.unix_micros(F.col("ts"))
    left = df.filter(F.col("event_type") == left_type).select(
        "user_id", ts_us.alias("ts_us"), "event_id", F.lit(1).alias("_is_l")
    )
    right = (
        df.filter(F.col("event_type") == right_type)
        .groupBy("user_id", ts_us.alias("ts_us"))
        .agg(F.max("event_id").alias("_r_id"))
        .select("user_id", "ts_us", "_r_id", F.lit(0).alias("_is_l"))
    )
    unioned = left.select(
        "user_id", "ts_us", "event_id", F.lit(None).cast("long").alias("_r_id"), "_is_l"
    ).unionByName(
        right.select(
            "user_id", "ts_us", F.lit(None).cast("long").alias("event_id"), "_r_id", "_is_l"
        )
    )
    # right rows sort before left rows at equal ts_us ⇒ `<=` semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "_is_l", F.coalesce("event_id", "_r_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        F.last("_r_id", ignorenulls=True).over(w).alias("matched_id"),
        F.last(
            F.when(F.col("_is_l") == 0, F.col("ts_us")), ignorenulls=True
        ).over(w).alias("matched_ts_us"),
    )
    return carried.filter(F.col("_is_l") == 1).select(
        "event_id",
        "user_id",
        "ts_us",
        "matched_id",
        "matched_ts_us",
        (F.col("ts_us") - F.col("matched_ts_us")).alias(gap_col),
    )


def running_user_window(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-user running aggregates: cumulative Σvalue, previous-event
    delta, and event index — the lag/lead + cumulative-sum window
    family over one hash-partition by user (single Exchange, all three
    window functions share it)."""
    ts_us = F.unix_micros(F.col(ts_col))
    order = Window.partitionBy("user_id").orderBy(ts_us, "event_id")
    cum = order.rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        "user_id",
        "event_id",
        F.row_number().over(order).alias("event_idx"),
        F.round(F.sum("value").over(cum), 6).alias("running_value"),
        F.round(F.col("value") - F.lag("value").over(order), 6).alias("delta_prev"),
    )


def type_date_cube(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """CUBE (event_type, event_date): every subtotal combination
    (type×date, per-type, per-date, grand total), NULL slots coalesced
    to 'ALL'.  The full grouping-sets lattice in one pass — Catalyst
    expands to a single Expand + hash aggregate, not four scans."""
    d = df.withColumn("event_date", F.date_format(ts_col, "yyyy-MM-dd"))
    return (
        d.cube("event_type", "event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("event_date", F.lit("ALL")).alias("event_date"),
            "n_events",
            "sum_value",
        )
    )


def type_date_rollup(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """ROLLUP (event_type, event_date): per-day, per-type subtotals +
    grand total.  NULL grouping slots are coalesced to 'ALL' so the
    output is hashable/deterministic across engines.
    """
    d = df.withColumn("event_date", F.date_format(ts_col, "yyyy-MM-dd"))
    return (
        d.rollup("event_type", "event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("event_date", F.lit("ALL")).alias("event_date"),
            "n_events",
            "sum_value",
        )
    )


def value_quantiles(
    df: DataFrame, probs: tuple[float, ...] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Exact per-type value percentiles (linear interpolation).

    ``percentile`` sorts each group's values — exact but
    memory-proportional to group size; at 100 TB switch to
    ``approx_percentile`` (t-digest sketch, constant memory) and accept
    the rank error.  Both engines use the same p·(n-1) linear
    interpolation, so results compare exactly.
    """
    aggs = [
        F.round(F.expr(f"percentile(value, {p})"), 6).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return df.groupBy("event_type").agg(*aggs)


def approx_value_quantiles(
    df: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based per-type percentiles: ``approx_percentile``
    (Greenwald-Khanna, bounded memory — rank error ≤ 1/accuracy).

    The 100 TB form of :func:`value_quantiles`: exact percentile sorts
    each group in memory, the sketch streams in constant space with
    map-side partial merge.  Sketch outputs are engine-specific
    (rows-only correctness check); the rank-error bound vs the exact
    percentiles is asserted in tests/test_events.py.
    """
    aggs = [
        F.round(
            F.expr(f"approx_percentile(value, {p}, {accuracy})"), 6
        ).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return df.groupBy("event_type").agg(*aggs)


def sliding_window_agg(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    window/slide overlapping buckets.  ``F.window`` expands rows into
    their covering windows before one hash aggregation — the fan-out is
    the window/slide ratio, the shuffle stays single."""
    return (
        df.groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(
    df: DataFrame, gap: str = "30 minutes", ts_col: str = "ts"
) -> DataFrame:
    """Native gap-based session windows (``F.session_window``).

    Spark's built-in session assignment: a session spans from its first
    event to its last event + gap.  Almost :func:`sessionize`, but the
    merge rules differ at the exactly-gap boundary: ``session_window``
    starts a new session when the gap is **>=** the threshold, while
    :func:`sessionize` splits only when it is strictly **>** (and its
    bounds are min/max event times, not last + gap).  The DuckDB oracle
    for this operator mirrors the >= rule.  Works identically in batch
    and Structured Streaming.
    """
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def props_map_stats(df: DataFrame) -> DataFrame:
    """Full JSON normalization: parse props as a map, explode entries,
    aggregate per key.  ``from_json`` to ``map<string,int>`` handles
    arbitrary key sets without a declared struct schema — the shape for
    semi-structured property bags whose keys drift over time."""
    m = F.from_json("props", "map<string,int>")
    ex = df.select(F.explode(m).alias("key", "val"))
    return ex.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum("val").alias("sum_val"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def daily_type_pivot(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Wide daily report: one row per day, one count column per event
    type.  ``pivot`` with an explicit value list keeps the schema static
    (no extra pass to discover values) and the column order
    deterministic; Catalyst compiles it to conditional aggregation —
    one shuffle, no per-value scans."""
    d = df.withColumn("event_date", F.date_format(ts_col, "yyyy-MM-dd"))
    return (
        d.groupBy("event_date")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


def funnel_counts(
    df: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel user counts: how many users reached each stage,
    where stage i+1 must occur strictly AFTER the user's first stage-i
    event.

    Each stage is one filtered aggregate on user_id (the filters push
    to the scan); stage i+1 joins the O(users) stage-i table on the
    same user key, so after the first shuffle every step is
    co-partitioned.  The result is O(stages) rows — driver-scale at
    any input size.  Strictly-after semantics (``>``, not ``>=``) are
    pinned so simultaneous events don't double-count a stage.

    Output: (stage, event_type, users) — 1-indexed stage order.
    """
    reached = (
        df.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    out = [
        reached.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(1).alias("stage"), F.lit(stages[0]).alias("event_type"), "users"
        )
    ]
    for i, stage in enumerate(stages[1:], start=2):
        nxt = (
            df.filter(F.col(type_col) == stage)
            .join(reached, user_col)
            .filter(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        out.append(
            nxt.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(i).alias("stage"), F.lit(stage).alias("event_type"), "users"
            )
        )
        reached = nxt
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


def daily_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Next-day retention per calendar day: of the users active on day
    D, how many were also active on D+1.

    The distinct (user, day) projection is the only pass over the raw
    events (one shuffle); the self-join on (user, day+1) and both
    aggregates run on that O(users × days) table.  The rate divides
    two exact counts and rounds — engine-independent.

    Output: (day, active_users, retained_next_day, retention_rate),
    day formatted yyyy-MM-dd; days with no next-day activity get 0.
    """
    days = df.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("d")
    ).distinct()
    active = days.groupBy("d").agg(F.count(F.lit(1)).alias("active_users"))
    a, b = days.alias("a"), days.alias("b")
    retained = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u"))
            & (F.col("b.d") == F.date_add(F.col("a.d"), 1)),
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.count(F.lit(1)).alias("retained_next_day"))
    )
    out = active.join(retained, "d", "left").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "active_users",
        F.coalesce("retained_next_day", F.lit(0)).alias("retained_next_day"),
    )
    return out.withColumn(
        "retention_rate",
        F.round(F.col("retained_next_day") / F.col("active_users"), 6),
    )


def trailing_active_users(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing-N-day distinct active users per active calendar day
    (DAU/WAU-style reach metric).

    Scale shape: instead of an O(days²) range self-join, each (user,
    day) activity row is EXPANDED to the ``window_days`` report days it
    contributes to (a ×N explode of an already-deduplicated projection),
    then one distinct-count per report day.  Report days with no
    activity of their own are dropped via a broadcast semi join against
    the distinct active-day set, so the output domain matches the
    calendar of the data.

    Output: (day, active_users_trailing) — day formatted yyyy-MM-dd.
    """
    days = df.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("d")
    ).distinct()
    expanded = days.select(
        "u",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("report_day"),
    )
    real_days = days.select(F.col("d").alias("report_day")).distinct()
    return (
        expanded.join(F.broadcast(real_days), "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.countDistinct("u").alias("active_users_trailing"))
        .select(
            F.date_format("report_day", "yyyy-MM-dd").alias("day"),
            "active_users_trailing",
        )
    )


def value_anomalies(
    df: DataFrame,
    z_threshold: float = 3.0,
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Events whose value is a per-type z-score outlier.

    The moments are EXACT: Σx and Σx² accumulate in DECIMAL (the x²
    product is one deterministic double multiply before the cast), so
    mean and the textbook variance (Σx² − (Σx)²/n)/(n−1) are identical
    across engines and partitionings — single-pass Welford-style
    ``stddev_samp`` would not be (different engines, different update
    orders).  One aggregation pass, O(types) rows broadcast back onto
    the scan; the flag filter is narrow.

    Output: (event_id, event_type, value, z) for |z| ≥ threshold.
    """
    x = F.col(value_col)
    stats = df.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast("decimal(25,8)")).alias("_sx"),
        F.sum((x * x).cast("decimal(30,10)")).alias("_sxx"),
    )
    mean = (F.col("_sx").cast("double") / F.col("_n")).alias("_mean")
    var = (
        (
            F.col("_sxx").cast("double")
            - F.col("_sx").cast("double") * F.col("_sx").cast("double") / F.col("_n")
        )
        / (F.col("_n") - 1)
    ).alias("_var")
    enriched = df.join(
        F.broadcast(stats.select(type_col, mean, var)), type_col
    )
    z = (x - F.col("_mean")) / F.sqrt(F.col("_var"))
    return (
        enriched.select(
            id_col, type_col, value_col, F.round(z, 6).alias("z")
        )
        .filter(F.abs(F.col("z")) >= z_threshold)
    )


def value_histogram(
    df: DataFrame,
    n_buckets: int = 10,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width per-type histogram of the value column.

    MIN/MAX of doubles are exact and order-independent, so the bucket
    edges — unlike mean/stddev-based binning — are engine-reproducible
    with no decimal machinery.  Two aggregation passes over the same
    (type) key: the O(types) edge table broadcasts back onto the scan
    and bucketing is a narrow expression; the top value clamps into the
    last bucket (the standard right-closed final bin).

    Output: (event_type, bucket, n_events, bucket_lo) — only non-empty
    buckets appear.
    """
    x = F.col(value_col)
    edges = df.groupBy(type_col).agg(
        F.min(x).alias("_mn"), F.max(x).alias("_mx")
    )
    joined = df.join(F.broadcast(edges), type_col)
    width = (F.col("_mx") - F.col("_mn")) / n_buckets
    raw = F.floor((x - F.col("_mn")) / width)
    bucket = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.least(raw, F.lit(n_buckets - 1))
    ).cast("int")
    return (
        joined.select(type_col, bucket.alias("bucket"), "_mn", width.alias("_w"))
        .groupBy(type_col, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.first(F.col("_mn") + F.col("bucket") * F.col("_w")), 6).alias(
                "bucket_lo"
            ),
        )
    )


def first_event_per_day(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Keep each user's FIRST event per calendar day (ties broken by
    event_id) — the keep-one-representative window dedup every
    training-data pipeline runs on clickstreams.

    A struct-MIN aggregate, not a row_number window: Spark compares
    structs lexicographically, so ``min(struct(ts, event_id, ...))``
    selects the earliest row with O(1) state per group, partial-
    aggregated map-side.  A window would sort every partition's full
    event list; the agg shuffles only one candidate row per (user,
    day) — the difference between O(n log n) per key and O(n) at
    100 TB.
    """
    day = F.date_format(ts_col, "yyyy-MM-dd").alias("day")
    best = F.min(
        F.struct(
            F.unix_micros(ts_col).alias("ts_us"),
            F.col("event_id"),
            F.col("event_type"),
            F.col("value"),
        )
    ).alias("f")
    return (
        df.groupBy("user_id", day)
        .agg(best)
        .select(
            "user_id",
            "day",
            F.col("f.ts_us").alias("ts_us"),
            F.col("f.event_id").alias("event_id"),
            F.col("f.event_type").alias("event_type"),
            F.round(F.col("f.value"), 6).alias("value"),
        )
    )


def event_type_runs(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Gaps-and-islands: collapse each user's consecutive same-type
    events into runs — the run-length encoding of a behavior stream
    (and the canonical sessionization-adjacent SQL pattern).

    Two windows over ONE partitioning (user, ordered by time): a lag
    marks type changes, a running sum of change-markers numbers the
    runs, then a grouped aggregate emits one row per run.  Catalyst
    reuses the single hash-partition exchange for both windows and the
    final aggregate — one shuffle end-to-end.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(ts_col), F.col("event_id")
    )
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = df.select(
        "user_id",
        "event_type",
        F.unix_micros(ts_col).alias("ts_us"),
        "event_id",
        F.sum(chg).over(w).alias("run_id"),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


def match_pattern(
    df: DataFrame,
    steps: list[str],
    within_minutes: int = 30,
    ts_col: str = "ts",
) -> DataFrame:
    """CEP-style STRICT-contiguity pattern match: ``len(steps)``
    consecutive events ``steps[0] → steps[1] → …`` per user with the
    whole match inside ``within_minutes`` — the Flink-CEP
    ``begin.next().next()…`` pattern with a ``within`` clause, as
    window leads.

    Unlike :func:`funnel_counts` (steps ordered SOMEWHERE in the
    stream — relaxed contiguity), this demands adjacency: no other
    event may sit between the steps.  ``len(steps)−1`` ``lead``s over
    one user-time window turn every event row into a candidate
    pattern window; the match predicate is then a row-local filter —
    one shuffle total, and the window state is O(pattern length) per
    key, exactly like a CEP NFA's.

    Output: one row per match — (user_id, start_id, start_us, end_us,
    span_us), deterministic on the (ts, event_id) order.
    """
    if len(steps) < 2:
        raise ValueError("pattern needs at least 2 steps")
    from pyspark.sql.window import Window

    n = len(steps)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(ts_col), F.col("event_id")
    )
    cols = [
        "user_id",
        F.col("event_id").alias("start_id"),
        "event_type",
        F.unix_micros(ts_col).alias("start_us"),
        F.lead(F.unix_micros(ts_col), n - 1).over(w).alias("end_us"),
    ]
    cols += [
        F.lead("event_type", i).over(w).alias(f"_t{i}") for i in range(1, n)
    ]
    cand = df.select(*cols)
    pred = F.col("event_type") == steps[0]
    for i in range(1, n):
        pred = pred & (F.col(f"_t{i}") == steps[i])
    span = F.col("end_us") - F.col("start_us")
    return (
        cand.filter(pred & (span <= within_minutes * 60_000_000))
        .select("user_id", "start_id", "start_us", "end_us", span.alias("span_us"))
    )


#: (band name, lo inclusive, hi exclusive) — the value-band dimension
VALUE_BANDS: tuple[tuple[str, float, float], ...] = (
    ("tiny", 0.0, 5.0),
    ("small", 5.0, 20.0),
    ("medium", 20.0, 60.0),
    ("large", 60.0, 85.0),
    ("huge", 85.0, 1e9),
)


def band_join_bucketed(
    df: DataFrame,
    bands: tuple[tuple[str, float, float], ...] = VALUE_BANDS,
    bucket_width: float = 10.0,
    max_value: float | None = None,
) -> DataFrame:
    """Range join (``value BETWEEN lo AND hi``) rewritten as an equi
    join on overlap buckets — the standard scale fix for non-equi
    joins, which Spark otherwise plans as a (Broadcast)NestedLoopJoin
    evaluating every (row, band) pair.

    Each band is exploded to the fixed-width buckets it overlaps; each
    event computes its bucket with one ``floor``; the join is then a
    plain hash equi-join on the bucket with the BETWEEN predicate left
    as a residual.  The nested-loop O(rows × bands) comparison becomes
    O(rows) probes — and unlike the nested loop, the shape survives a
    non-broadcastable band table (band dimensions with thousands of
    SLAs/tiers are real).  Results are identical to the naive form by
    construction: every qualifying pair shares the bucket of the
    event's value.

    Output: per-band (band, n_events, sum_value) over non-overlapping
    [lo, hi) bands.
    """
    spark = df.sparkSession
    if max_value is None:
        # one tiny job clamps open-ended bands ('hi = ∞' tiers are
        # normal) to the buckets that can actually match — without it
        # the expansion materializes millions of empty buckets
        [row] = df.agg(F.max("value").alias("m")).collect()
        max_value = float(row["m"]) if row["m"] is not None else 0.0
    cap = int(max_value // bucket_width)
    rows = []
    for name, lo, hi in bands:
        b0 = int(lo // bucket_width)
        b1 = int(
            (hi // bucket_width)
            if hi % bucket_width != 0
            else hi // bucket_width - 1
        )
        b1 = min(b1, cap)
        rows += [(name, lo, hi, b) for b in range(b0, b1 + 1)]
    band_buckets = spark.createDataFrame(
        rows, "band string, lo double, hi double, bucket long"
    )
    ev = df.select(
        "value", F.floor(F.col("value") / bucket_width).alias("bucket")
    )
    joined = ev.join(F.broadcast(band_buckets), "bucket").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def ewma_per_user(
    df: DataFrame,
    alpha: float = 0.1,
    ts_col: str = "ts",
    round_to: int | None = 6,
) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value`` —
    the streaming-feature recurrence (anomaly baselines, engagement
    decay) that windowed SQL cannot express without an overflow-prone
    ``(1−α)^{-i}`` rescaling trick.

    ewma_i = α·x_i + (1−α)·ewma_{i−1},  ewma_0 = x_0.

    Execution: one shuffle on user_id, then an ``applyInPandas`` whose
    per-group state is a single float — the honest shape for an
    inherently sequential scan (each group sorts its own rows by
    (ts, event_id); groups run in parallel, rows within a group do
    not, which is the recurrence's data dependency, not an
    implementation limit).  The fold applies EXACTLY one multiply-add
    pair per step in fixed order, so an oracle replaying the same
    recurrence (DuckDB recursive CTE) is bit-identical before
    rounding.

    Output: (event_id, user_id, value, ewma).
    """
    import pandas as pd

    one_minus = 1.0 - alpha

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_ts_us", "event_id"])
        x = pdf["value"].to_numpy(dtype="float64")
        out = x.copy()
        prev = 0.0
        for i in range(len(x)):
            if i == 0:
                prev = x[0]
            else:
                prev = alpha * x[i] + one_minus * prev
            out[i] = prev
        pdf = pdf.assign(ewma=out)
        return pdf[["event_id", "user_id", "value", "ewma"]]

    base = df.select(
        "event_id",
        "user_id",
        "value",
        F.unix_micros(F.col(ts_col)).alias("_ts_us"),
    )
    out = base.groupBy("user_id").applyInPandas(
        fold, schema="event_id long, user_id long, value double, ewma double"
    )
    e = F.col("ewma")
    if round_to is not None:
        e = F.round(e, round_to) + F.lit(0.0)
    return out.select("event_id", "user_id", "value", e.alias("ewma"))


def ohlc_downsample(
    df: DataFrame,
    bucket_hours: int = 6,
    ts_col: str = "ts",
) -> DataFrame:
    """OHLC time-bucket downsampling of ``value`` per event_type — the
    candlestick/dashboard reduction of a metric stream (keep
    open/high/low/close per bucket instead of every point).

    Open/close come from struct-MIN/MAX aggregates over
    (ts, event_id, value) — the same O(1)-state-per-group trick as
    :func:`first_event_per_day` (a window would sort whole partitions);
    high/low/count ride the same single shuffle.  Bucket = epoch time
    floor-divided, integer-exact in any engine.

    Output: (event_type, bucket_start_us, n, open, high, low, close).
    """
    us_per_bucket = bucket_hours * 3600 * 1_000_000
    bucket = (
        (F.unix_micros(F.col(ts_col)) / us_per_bucket).cast("long")
        * us_per_bucket
    ).alias("bucket_start_us")
    key = F.struct(
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col("event_id"),
        F.col("value"),
    )
    return (
        df.groupBy("event_type", bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(key)["value"], 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max(key)["value"], 6).alias("close"),
        )
    )


def cdc_apply(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    val_col: str = "value",
    delete_buckets: int = 8,
) -> DataFrame:
    """CDC changelog apply: collapse an upsert/delete stream to final
    table state — the ingestion step that materializes a Debezium/
    binlog feed into a snapshot (what Delta/Hudi's MERGE loop does
    per batch, expressed as the portable plan).

    Each change row is an op on its key: op derives deterministically
    from the sequence id's md5 (1/``delete_buckets`` are tombstones —
    the content-hash contract, so any engine labels rows identically).
    The latest op per key wins, ordered by (ts, seq) DESC — seq breaks
    equal-timestamp ties exactly like a log offset.  A key whose final
    op is a tombstone vanishes from the snapshot; survivors carry
    their last value plus per-key op/delete counts for audit.

    ONE shuffle: the ordered row_number and both unbounded counts
    share the same (key) window partitioning, so Catalyst plans a
    single Exchange feeding stacked Window nodes.

    Output: (key, last_value, last_ts, n_ops, n_deletes).
    """
    from pyspark.sql.window import Window

    op = F.when(
        hash_bucket(F.col(seq_col).cast("string"), delete_buckets) == 0,
        F.lit("D"),
    ).otherwise(F.lit("U"))
    w = Window.partitionBy(key_col)
    wo = w.orderBy(F.desc(ts_col), F.desc(seq_col))
    ranked = events.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(seq_col),
        F.col(val_col),
        op.alias("_op"),
    ).select(
        "*",
        F.row_number().over(wo).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("n_ops"),
        F.sum(F.when(F.col("_op") == "D", 1).otherwise(0))
        .over(w)
        .cast("long")
        .alias("n_deletes"),
    )
    # last_ts as a formatted string: the comparison gate hashes raw
    # dtypes, and pandas timestamp resolution (ns vs us) differs
    # between Spark and other engines — strings are the stable wire
    # format every ts-emitting query here uses
    return ranked.filter((F.col("_rn") == 1) & (F.col("_op") != "D")).select(
        F.col(key_col),
        F.col(val_col).alias("last_value"),
        F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "n_ops",
        "n_deletes",
    )


RFM_SEGMENTS = {
    (True, True, True): "champion",
    (True, True, False): "loyal",
    (True, False, True): "big_spender",
    (True, False, False): "promising",
    (False, True, True): "at_risk",
    (False, True, False): "needs_attention",
    (False, False, True): "cant_lose",
    (False, False, False): "hibernating",
}


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    rate: float = 1 / 4,
    round_to: int = 6,
) -> DataFrame:
    """RFM user segmentation — the classic engagement triage (recency /
    frequency / monetary), built scale-first:

    * "now" is the corpus max event time (deterministic, not wall
      clock); recency = whole days since the user's last event.
    * per-user aggregate: ONE exchange on the user key (map-side
      combined) — |users| rows out.
    * split thresholds are the MEDIANS of each metric over a
      content-hash Bernoulli sample of users (the
      :func:`~flink_kmeans_clustering_spark.operators.sampling.sampled_quantiles`
      contract: md5 bucket on the user id, exact interpolated
      ``percentile`` on the sample, rounded before comparison) —
      a 1-row broadcast, NO global ntile window over all users (the
      ntile formulation single-partitions a billion-user sort; the
      sampled-threshold one is corpus-size-safe).
    * scoring is a narrow CASE over the broadcast thresholds; the
      8-way segment label comes from the (r, f, m) bit triple
      (:data:`RFM_SEGMENTS`).

    High recency score means RECENT (recency_days ≤ median); frequency
    and monetary score high when STRICTLY above their medians.

    Output: (user_id, recency_days, frequency, monetary, r_hi, f_hi,
    m_hi, segment), one row per user.
    """
    per_user = (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(ts_col).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum(value_col), round_to).alias("monetary"),
        )
    )
    now = events.agg(F.max(ts_col).alias("_now"))
    ru = per_user.join(F.broadcast(now)).select(
        "user_id",
        F.datediff(F.col("_now"), F.col("_last")).cast("long").alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )
    denom = round(1 / rate)
    bucket = md5_int(F.col("user_id").cast("string")) % denom
    med = ru.filter(bucket == 0).agg(
        F.round(F.expr("percentile(recency_days, 0.5)"), round_to).alias("_rm"),
        F.round(F.expr("percentile(frequency, 0.5)"), round_to).alias("_fm"),
        F.round(F.expr("percentile(monetary, 0.5)"), round_to).alias("_mm"),
    )
    scored = ru.join(F.broadcast(med)).select(
        "user_id", "recency_days", "frequency", "monetary",
        (F.col("recency_days") <= F.col("_rm")).alias("r_hi"),
        (F.col("frequency") > F.col("_fm")).alias("f_hi"),
        (F.col("monetary") > F.col("_mm")).alias("m_hi"),
    )
    seg = None
    for (r, f, m), name in RFM_SEGMENTS.items():
        cond = (
            (F.col("r_hi") == r) & (F.col("f_hi") == f) & (F.col("m_hi") == m)
        )
        seg = F.when(cond, name) if seg is None else seg.when(cond, name)
    return scored.withColumn("segment", seg)


def journey_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    round_to: int = 6,
) -> DataFrame:
    """First-order user-journey Markov transitions — the "what do users
    do next" matrix behind funnel design and next-action models: for
    every consecutive event pair within a user's timeline, count
    (from_type → to_type) and normalize per from_type.

    Scale physics: ONE exchange on the user key for the ``lead``
    window (ties at equal ts break by ``order_col`` so the sequence is
    deterministic), then a map-side-combined pair aggregate whose
    output is |types|² rows — the per-from normalization runs as a
    window over that tiny result, never over the corpus.

    Output: (from_type, to_type, n, p) with p = n / Σ n over the
    from_type row-group, rounded.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), round_to).alias("p"),
    )


def type_cooccurrence(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    round_to: int = 6,
) -> DataFrame:
    """Market-basket co-occurrence with lift — which event types appear
    together in the same user's history more than chance predicts
    (the association-mining step behind "users who did A also did B").

    Scale physics: the pair space is bounded by the TYPE alphabet, not
    the corpus — distinct (user, type) first (ONE user-key exchange),
    then a self-join on the user key (reuses the same partitioning, no
    second corpus exchange) emits ≤ |types|² pairs per user; the pair
    aggregate and the per-type marginals are tiny and broadcast back
    for the lift ratio.  lift = P(a∧b) / (P(a)·P(b)) over users.

    Output: (type_a, type_b, n_both, lift) with type_a < type_b.
    """
    ut = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t")
    ).distinct()
    nu = ut.agg(F.countDistinct("u").alias("_nu"))
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.t") < F.col("b.t")))
        .groupBy(
            F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    marg = ut.groupBy(F.col("t")).agg(F.count(F.lit(1)).alias("n_t"))
    # lift as (n_both·N) / (n_a·n_b): one double multiply and one
    # divide, left-assoc — the exact fold the oracle replays
    lift = (F.col("n_both").cast("double") * F.col("_nu")) / (
        F.col("_na") * F.col("_nb")
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("t").alias("type_a"),
                                    F.col("n_t").alias("_na"))),
            "type_a",
        )
        .join(
            F.broadcast(marg.select(F.col("t").alias("type_b"),
                                    F.col("n_t").alias("_nb"))),
            "type_b",
        )
        .join(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(lift, round_to).alias("lift"),
        )
    )


def last_touch_attribution(
    events: DataFrame,
    convert_type: str = "purchase",
    touch_type: str = "click",
    window_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution — credit each conversion to the user's
    most recent qualifying touch within the lookback window (the
    marketing-analytics workhorse; also the generic "latest preceding
    event of kind X" join).

    Per user, in deterministic (ts, order_col) order, a running
    ``last(..., ignorenulls)`` over STRICTLY-PRIOR rows carries the
    latest touch's (ts, id) forward — one user-key window exchange
    over the corpus, no self-join, no range join (the naive
    conversions×touches interval join shuffles the corpus twice and
    explodes on hot users; the running-last form is a single pass).
    Both carried columns ride the same CASE, so they are null exactly
    together and always describe the same touch row.

    Output: one row per conversion — (event_id, user_id, conv_ts,
    touch_event_id, touch_ts, secs_since_touch, attributed) with
    ``attributed`` ⇔ a touch exists within ``window_minutes``;
    timestamps serialize as 'yyyy-MM-dd HH:mm:ss' strings (the repo's
    cross-engine timestamp convention — engines disagree on binary
    timestamp resolution, never on the rendered form).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col) == touch_type
    touch_ts = F.last(F.when(is_touch, F.col(ts_col)), ignorenulls=True).over(w)
    touch_id = F.last(F.when(is_touch, F.col(order_col)), ignorenulls=True).over(
        w
    )
    delta = (
        F.unix_timestamp(F.col("conv_ts")) - F.unix_timestamp(F.col("touch_ts"))
    ).cast("long")
    return (
        events.select(
            F.col(order_col).alias("event_id"),
            F.col(user_col).alias("user_id"),
            F.col(ts_col).alias("conv_ts"),
            F.col(type_col).alias("_t"),
            touch_ts.alias("touch_ts"),
            touch_id.alias("touch_event_id"),
        )
        .filter(F.col("_t") == convert_type)
        .select(
            "event_id",
            "user_id",
            F.date_format("conv_ts", "yyyy-MM-dd HH:mm:ss").alias("conv_ts"),
            "touch_event_id",
            F.date_format("touch_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "touch_ts"
            ),
            delta.alias("secs_since_touch"),
            (
                F.col("touch_ts").isNotNull()
                & (delta <= window_minutes * 60)
            ).alias("attributed"),
        )
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    round_to: int = 6,
) -> DataFrame:
    """Weekly cohort-retention matrix — the classic growth table: users
    grouped by first-activity week (ISO Monday truncation), one cell
    per (cohort, week offset) counting how many came back.

    Scale physics: per-user first week is ONE user-key aggregate;
    distinct (user, active-week) reuses the same key exchange; the
    join back to the cohort is user-keyed (co-partitioned); the final
    matrix is |cohorts|·|offsets| rows, and the cohort-size
    normalization is a window over that tiny result (every user is
    active in their own first week, so offset 0 IS the cohort size).

    Output: (cohort_week 'yyyy-MM-dd', week_offset, n_users,
    cohort_size, retention), retention = n_users / cohort_size.
    """
    from pyspark.sql import Window

    first = events.groupBy(F.col(user_col).alias("u")).agg(
        F.date_trunc("week", F.min(ts_col)).alias("_cw")
    )
    active = events.select(
        F.col(user_col).alias("u"),
        F.date_trunc("week", F.col(ts_col)).alias("_aw"),
    ).distinct()
    cells = (
        active.join(first, "u")
        .select(
            F.date_format("_cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("_aw", "_cw") / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    wc = Window.partitionBy("cohort_week")
    size = F.sum(
        F.when(F.col("week_offset") == 0, F.col("n_users"))
    ).over(wc)
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_users",
        size.alias("cohort_size"),
        F.round(F.col("n_users") / size, round_to).alias("retention"),
    )


def top_paths(
    events: DataFrame,
    max_events: int = 6,
    top_n: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Top user paths — the "how do journeys actually start" view
    behind funnel design: each user's first ``max_events`` event types
    in (ts, id) order joined into a path string, counted, top
    ``top_n`` by frequency.

    One user-key window (rank ≤ max_events is the WindowGroupLimit
    shape) feeding a same-key aggregate: the collect_list holds at
    most ``max_events`` structs per user and ``array_sort`` on
    (ts, id, type) structs makes the order deterministic without a
    sort-within-groups.  The final top-n is an orderBy().limit() —
    TakeOrderedAndProject, never a global sort.

    Output: (path, n_users) — top_n rows, ties broken by path asc.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    head = (
        events.select(
            F.col(user_col).alias("u"),
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(order_col).alias("oid"),
                F.col(type_col).alias("t"),
            ).alias("_s"),
            F.row_number().over(w).alias("_r"),
        )
        .filter(F.col("_r") <= max_events)
    )
    paths = head.groupBy("u").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["t"]
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(top_n)
    )


def windowed_funnel(
    df: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    within_minutes: int = 7 * 24 * 60,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-constrained ordered funnel: stage i+1 must occur strictly
    AFTER the user's stage-i completion AND within ``within_minutes``
    of it — the conversion-window semantics real funnel products use
    (an unbounded funnel counts a purchase a year later as converted).

    Same physics as :func:`funnel_counts`: each stage is one filtered
    user-key aggregate, later stages join the O(users) frontier on the
    already-partitioned key, result is O(stages) rows.  The frontier
    carries the stage-completion time, so the window test is a narrow
    filter, never an interval self-join.

    Output: (stage, event_type, users) — 1-indexed; stage 1 is
    unconstrained (it opens the window).
    """
    bound = F.expr(f"INTERVAL {int(within_minutes)} MINUTES")
    reached = (
        df.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    out = [
        reached.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(1).alias("stage"), F.lit(stages[0]).alias("event_type"), "users"
        )
    ]
    for i, stage in enumerate(stages[1:], start=2):
        nxt = (
            df.filter(F.col(type_col) == stage)
            .join(reached, user_col)
            .filter(
                (F.col(ts_col) > F.col("_t"))
                & (F.col(ts_col) <= F.col("_t") + bound)
            )
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        out.append(
            nxt.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(i).alias("stage"), F.lit(stage).alias("event_type"), "users"
            )
        )
        reached = nxt
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def covered_time(
    df: DataFrame,
    hold_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-user interval-union coverage: each event claims the interval
    ``[ts, ts + hold]``; overlapping claims merge, and the output is
    the total covered seconds plus the merged-interval count — "time
    the user had an active session/lease/lock", the interval-union
    aggregate every billing/occupancy pipeline needs (distinct from
    gaps-and-islands RLE, which segments by VALUE runs).

    One user-key window (running max of interval end over prior rows
    decides merges — integer epoch-second arithmetic, engine-exact),
    one aggregate.  No self-join; scales as a single shuffle on the
    user key.

    Output: (user_id, n_intervals, covered_secs).
    """
    from pyspark.sql import Window

    hold_s = hold_minutes * 60
    # integer epoch seconds via micros floor-div — same truncation as
    # DuckDB's epoch_us // 1e6, exact at any timestamp resolution
    ts_s = (F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000)).cast(
        "long"
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("_s", "_o")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = df.select(
        F.col(user_col),
        ts_s.alias("_s"),
        F.col(order_col).alias("_o"),
    ).withColumn("_prev_end", F.max(F.col("_s") + hold_s).over(w))
    flagged = start.withColumn(
        "_new", (F.col("_prev_end").isNull() | (F.col("_s") > F.col("_prev_end"))).cast("int")
    )
    w2 = Window.partitionBy(user_col).orderBy("_s", "_o").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = flagged.withColumn("_isl", F.sum("_new").over(w2))
    per_island = islands.groupBy(user_col, "_isl").agg(
        F.min("_s").alias("_start"),
        (F.max("_s") + hold_s).alias("_end"),
    )
    return per_island.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("_end") - F.col("_start")).alias("covered_secs"),
    )


def mad_outliers(
    df: DataFrame,
    rz_threshold: float = 3.5,
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Robust per-type outliers by median/MAD — the skew-proof twin of
    :func:`value_anomalies`: one fat-tailed burst inflates a z-score's
    mean and σ (masking itself), while the median and the median
    absolute deviation have a 50% breakdown point (Iglewicz-Hoaglin
    modified z, 0.6745·(x−med)/MAD).

    Two aggregation passes (median, then MAD on the residuals) — both
    exact ``percentile`` aggregates, O(types) rows broadcast back onto
    the scan.  At 100 TB swap the exact percentile for the GK sketch
    (q_events_approx_quantiles' machinery) without touching the shape.

    Output: (event_id, event_type, value, rz) for |rz| ≥ threshold.
    """
    x = F.col(value_col)
    med = df.groupBy(type_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    resid = df.join(F.broadcast(med), type_col)
    mad = resid.groupBy(type_col).agg(
        F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad")
    )
    # MAD = 0 (over half the group identical) leaves the scale estimate
    # undefined — flag NOTHING there rather than divide by zero
    # (hypothesis-found edge; value_anomalies is the fallback detector
    # for such degenerate groups)
    enriched = resid.join(F.broadcast(mad), type_col).filter(F.col("_mad") > 0)
    rz = F.lit(0.6745) * (x - F.col("_med")) / F.col("_mad")
    return (
        enriched.select(
            id_col, type_col, value_col, F.round(rz, 6).alias("rz")
        )
        .filter(F.abs(F.col("rz")) >= rz_threshold)
    )


def hourly_seasonality(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-day seasonality profile per event type: volume and mean
    value for each (type, hour) cell — the 24×types matrix capacity
    planning and anomaly baselining read first.  One aggregate with
    map-side combine; means are DECIMAL-exact (Σ in decimal, one final
    divide) so the profile is engine- and partitioning-reproducible.

    Output: (event_type, hour, n_events, avg_value).
    """
    x = F.col(value_col)
    return (
        df.groupBy(type_col, F.hour(ts_col).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(x.cast("decimal(25,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_value"),
        )
    )
