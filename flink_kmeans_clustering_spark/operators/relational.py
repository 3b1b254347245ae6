"""Relational/analytic queries over the TPC-H-ish star schema
(TESTDATA.md): scan → filter → multi-way join → aggregate → top-k.

The reference's relational surface is a single k×k equi-join
(KMeans.java:175) plus grouped reduces; this module supplies the full
join/aggregation repertoire a standalone analytics engine needs —
broadcast inner joins, non-equi semi joins, anti joins, set ops,
grouped aggregation with partial (map-side) combine, and deterministic
top-k via TakeOrderedAndProject.

Scale posture (100 TB):
* Dimension tables (region, nation, supplier, part) get explicit
  ``F.broadcast`` hints — replicated hash maps, no shuffle of the fact
  table.  ``customer``/``orders`` joins are left to AQE, which picks
  broadcast vs shuffled-hash from runtime sizes.
* Fact-side predicates (ship-date windows, segment filters) sit
  directly on the scan so Catalyst pushes them into the parquet reader
  (verify: ``PushedFilters`` in ``.explain``).
* Money aggregates are summed as DECIMAL(18,4)/DECIMAL(25,8) then cast
  back to double: decimal addition is associative-exact, so results
  are partition-order-independent and bit-identical across engines —
  no "round and hope" on a 10-billion-row sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.functions.hashing import hex_int

DEC = "decimal(18,4)"
DEC_WIDE = "decimal(25,8)"


def _dsum(col: Column | str, dec: str = DEC) -> Column:
    """Order-independent exact sum: accumulate in decimal, emit double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(dec)).cast("double")


def _dsum_r6(col: Column | str, dec: str = DEC_WIDE) -> Column:
    """Decimal sum rounded to 6 places IN DECIMAL, then cast to double.

    Rounding must happen before the double cast: ``round(double, 6)``
    on a value beyond ~4.5e9 is below double resolution (|x|·10⁶
    exceeds 2⁵³), and engines then disagree by one ulp — Spark rounds
    through an exact BigDecimal, DuckDB multiplies by 10⁶ in floating
    point.  Rounding the exact decimal first makes both engines emit
    the nearest double of the SAME exact value at any magnitude.
    (Caught by the sf0.1 cross-check; sf0.01 sums were small enough to
    mask it.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(dec)), 6).cast("double")


def disc_price() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def pricing_summary(lineitem: DataFrame, cutoff: str = "2001-09-01") -> DataFrame:
    """TPC-H Q1 shape: grouped pricing summary of shipped lineitems.

    One scan + one shuffle on (returnflag, linestatus); Catalyst plans
    partial HashAggregate before the exchange, and the cutoff predicate
    is pushed to the parquet row-group level.
    """
    charge = disc_price() * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum_r6(disc_price()).alias("sum_disc_price"),
            _dsum_r6(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
            F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias(
                "avg_price"
            ),
            "count_order",
        )
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    order_before: str = "1997-06-01",
    ship_after: str = "1997-06-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top-k unshipped orders by revenue in a segment.

    customer→orders is an equi-join AQE can broadcast (filtered
    customer is small); orders→lineitem shuffles on the shared
    l_orderkey.  The final top-k is TakeOrderedAndProject — per-
    partition heaps, no global sort.
    """
    c = customer.filter(F.col("c_mktsegment") == segment)
    o = orders.filter(F.col("o_orderdate") < F.lit(order_before).cast("timestamp"))
    li = lineitem.filter(F.col("l_shipdate") > F.lit(ship_after).cast("timestamp"))
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum_r6(disc_price()).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(k)
    )


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: revenue where customer and supplier share a
    nation inside one region, by nation.

    The dimension chain region→nation→(customer, supplier) is all
    broadcast; only orders⋈lineitem shuffles.  The c_nationkey =
    s_nationkey locality predicate rides the join condition.
    """
    r = region.filter(F.col("r_name") == region_name)
    n = nation.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    joined = (
        lineitem.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(_dsum_r6(disc_price()).alias("revenue"))
    )


def late_order_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 late lineitem, counted by priority.

    Semi join (EXISTS) with a non-equi residual: equi on the order key
    plus ``l_shipdate > o_orderdate + late_days``.  Spark plans a
    shuffled-hash/broadcast left-semi with the residual evaluated
    post-probe — each order is emitted at most once, no distinct pass.
    """
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    late = o.join(
        lineitem,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def parts_without_bulk_sales(
    part: DataFrame, lineitem: DataFrame, min_qty: float = 49.0
) -> DataFrame:
    """Anti join: parts never sold in bulk (no lineitem with quantity
    ≥ min_qty).  NOT EXISTS as a left-anti hash join — the filtered
    right side is built once, no subquery-per-row.
    """
    bulk = lineitem.filter(F.col("l_quantity") >= min_qty).select("l_partkey")
    return (
        part.join(bulk, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
    )


def customer_status_sets(orders: DataFrame) -> DataFrame:
    """Set operations over order-status customer sets.

    ``both``   = customers with open AND finished orders (INTERSECT);
    ``f_only`` = customers with finished but no open orders (EXCEPT).
    Both set ops are distinct-semantics hash aggregations; the tag +
    UNION ALL packs them into one deterministic result.
    """
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f_cust.intersect(o_cust).select(
        F.col("o_custkey").alias("custkey"), F.lit("both").alias("tag")
    )
    f_only = f_cust.subtract(o_cust).select(
        F.col("o_custkey").alias("custkey"), F.lit("f_only").alias("tag")
    )
    return both.unionAll(f_only)


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame, exclude_priority: str = "1-URGENT"
) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer,
    including zero-order customers.

    The left outer join keeps customers with no qualifying orders
    (their count is 0 — ``F.count`` of a NULL key column, not
    ``COUNT(*)``).  The join shuffles both sides on custkey; the first
    groupBy is on the same key, so it reuses that partitioning with no
    extra exchange.  The second groupBy (on c_count) reduces an
    O(customers) input to O(max orders per customer) rows — a tiny
    shuffle even at 100 TB.
    """
    o = orders.filter(F.col("o_orderpriority") != exclude_priority)
    per_cust = (
        customer.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def large_quantity_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_total_qty: float = 250.0,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q18 shape: top-k largest orders by total quantity.

    The HAVING subquery is a grouped aggregate on l_orderkey (one
    shuffle); the join back to orders shares that key, so AQE
    co-partitions it without a second lineitem exchange.  The filtered
    aggregate is tiny (p99 cut), so the customer join broadcasts.
    Final top-k is TakeOrderedAndProject — no global sort.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(_dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > min_total_qty)
    )
    joined = (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(k)
    )


def nation_trade_volume(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q7 shape, generalized: cross-nation trade revenue matrix
    (supplier nation → customer nation, by ship year).

    Where Q7 pins two nations, this emits every ordered pair with
    supp_nation ≠ cust_nation — the full trade matrix a pipeline would
    actually chart.  All four dimension joins broadcast (nation twice,
    supplier, and AQE handles customer); only orders⋈lineitem
    shuffles.  Output is O(nations² × years) — driver-scale small at
    any input size.
    """
    n_supp = nation.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("_snk"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("_cnk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum_r6(disc_price()).alias("revenue"))
    )


def monthly_order_ranks(orders: DataFrame, k: int = 5) -> DataFrame:
    """Ranking-function repertoire: top-k orders per month with rank,
    dense_rank, quartile (ntile) and previous price (lag), all over one
    window.

    One shuffle partitions by order month; every ranking function
    shares the single in-partition sort (totalprice DESC, orderkey for
    a total order — ntile and lag are only deterministic under a total
    order).  The rank ≤ k filter happens before the project, so at
    scale the output is O(months × k).  A month is an unbounded-size
    partition at 100 TB; for billion-row months the pre-aggregated
    top-k pattern (events.top_events_per_user) bounds memory instead —
    this operator is the full-repertoire form.
    """
    from pyspark.sql.window import Window

    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    w = Window.partitionBy("month").orderBy(F.desc("o_totalprice"), "o_orderkey")
    ranked = orders.select(
        month, "o_orderkey", "o_totalprice"
    ).select(
        "month",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )
    return ranked.filter(F.col("rnk") <= k)


def order_price_distribution(orders: DataFrame) -> DataFrame:
    """Distribution-function window repertoire: percent_rank, cume_dist
    and frame-bounded first/last value per order-status partition.

    Complements :func:`monthly_order_ranks` (rank/dense_rank/ntile/lag)
    with the remaining SQL window family.  One shuffle on the partition
    key; all four functions share a single in-partition sort.  The
    unbounded-following frame for last_value is explicit — the default
    frame (up to CURRENT ROW) would silently return the current row.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_totalprice").over(wf).alias("cheapest"),
        F.last("o_totalprice").over(wf).alias("priciest"),
    )


def daily_revenue_delta(lineitem: DataFrame) -> DataFrame:
    """Day-over-day discounted-revenue delta: grouped aggregate feeding
    a lag window.

    The groupBy shuffles on ship date; the window then needs a global
    date ordering, which Spark runs as a single partition — fine,
    because the aggregate has already reduced the input to O(days)
    rows (a few thousand for decades of data) regardless of input
    scale.  Revenue is decimal-summed then rounded BEFORE the lag, so
    delta = rounded − rounded is bit-identical across engines.
    """
    from pyspark.sql.window import Window

    daily = (
        lineitem.groupBy(
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day")
        )
        .agg(_dsum_r6(disc_price()).alias("revenue"))
    )
    w = Window.orderBy("ship_day")
    return daily.select(
        "ship_day",
        "revenue",
        F.round(
            F.col("revenue") - F.lag("revenue").over(w), 6
        ).alias("delta_vs_prev_day"),
    )


def returned_item_losses(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: top-k customers by revenue lost to returns.

    The return-flag predicate and the order-date window both sit on the
    scans (pushed to parquet); lineitem⋈orders shuffles on the order
    key, customer joins on custkey (AQE broadcast at small SF, shuffled
    hash at scale), and nation is an explicit broadcast.  Grouping on
    the full customer tuple adds no extra exchange — custkey is already
    the join key and functionally determines the rest.  Final top-k is
    TakeOrderedAndProject.
    """
    returned = lineitem.filter(F.col("l_returnflag") == "R")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    joined = (
        returned.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum_r6(disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(k)
    )


def top_revenue_parts(
    lineitem: DataFrame, part: DataFrame, fraction: float = 0.0005
) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a fraction of the
    GLOBAL total — a scalar subquery in HAVING.

    Expressed declaratively: the per-part aggregate (one shuffle on
    l_partkey) cross-joins the 1-row global total, which Spark plans as
    a broadcast nested-loop of a single row — the same decorrelated
    plan Catalyst produces from the subquery form.  The global total
    re-aggregates the per-part partials (O(parts) rows), not the fact
    table, so the scan happens once.  Decimal accumulation keeps both
    aggregates partition-order-exact, so the HAVING cut is stable.
    """
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(disc_price().cast(DEC_WIDE)).alias("_rev_dec")
    )
    total = per_part.agg(
        F.sum("_rev_dec").cast(DEC_WIDE).alias("_total_dec")
    )
    kept = per_part.join(F.broadcast(total)).filter(
        F.col("_rev_dec") > F.col("_total_dec") * F.lit(fraction)
    )
    return (
        kept.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_name",
            F.round(F.col("_rev_dec"), 6).cast("double").alias("part_revenue"),
        )
    )


def idle_rich_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: per-segment count/balance of customers with an
    above-average account balance and NO orders.

    Two classic shapes composed: a global scalar subquery (average of
    positive balances — 1-row broadcast into the filter) and NOT EXISTS
    (left-anti hash join against the order custkeys).  The anti join's
    build side is the distinct custkey projection only; at scale AQE
    picks broadcast vs shuffled-hash from its runtime size.  Output is
    O(segments) — driver-scale at any input size.
    """
    # avg = exact decimal sum → double, / count: both steps are single
    # IEEE operations on order-independent inputs, so the threshold is
    # bit-identical across engines and partitionings (a plain double
    # avg would be summation-order-dependent).
    pos_avg = customer.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_bal")
    )
    rich = customer.join(F.broadcast(pos_avg)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    idle = rich.join(
        orders.select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        _dsum_r6("c_acctbal").alias("totacctbal"),
    )


def revenue_forecast(
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    discount: float = 0.06,
    band: float = 0.01,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from dropping a discount band.

    Pure scan-side query: every predicate (ship-date window, discount
    band, quantity cap) is pushed into the parquet reader, and the
    single global aggregate runs as a partial-per-partition sum plus a
    1-row final reduce — the cheapest possible shape at any scale.
    Revenue (extendedprice × discount) accumulates in decimal.
    """
    lo, hi = discount - band, discount + band
    kept = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        & (F.col("l_discount") >= lo)
        & (F.col("l_discount") <= hi)
        & (F.col("l_quantity") < max_qty)
    )
    return kept.agg(
        _dsum_r6(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


def promo_revenue_share(
    lineitem: DataFrame, part: DataFrame, promo_type: str = "PROMO"
) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from promo parts.

    part is an explicit broadcast (dimension-sized); the only shuffle
    is the groupBy on ship month.  Promo and total revenue come out of
    ONE aggregate pass via a conditional decimal sum — no second scan,
    no join of two aggregates.  The share divides the two rounded
    doubles, so both engines divide bit-identical operands.
    """
    joined = lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    promo_dec = F.when(
        F.col("p_type") == promo_type, disc_price().cast(DEC_WIDE)
    )
    monthly = joined.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.round(F.coalesce(F.sum(promo_dec), F.lit(0).cast(DEC_WIDE)), 6)
        .cast("double")
        .alias("promo_revenue"),
        _dsum_r6(disc_price()).alias("total_revenue"),
    )
    return monthly.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        F.round(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_share_pct"),
    )


def brand_quantity_revenue(
    lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """TPC-H Q19 shape: revenue under disjunctive brand/size/quantity
    predicates.

    The three OR'd branches land as one residual filter on a single
    broadcast hash join — Catalyst does not re-scan per branch, and the
    partkey equi-condition still drives the join.  The p_brand IN (…)
    union of the branches is pushed to the part scan, shrinking the
    broadcast build side before the OR is evaluated.
    """
    branches = (
        (F.col("p_brand") == "Brand#12")
        & F.col("l_quantity").between(1.0, 11.0)
        & F.col("p_size").between(1, 15)
    ) | (
        (F.col("p_brand") == "Brand#15")
        & F.col("l_quantity").between(10.0, 20.0)
        & F.col("p_size").between(1, 25)
    ) | (
        (F.col("p_brand") == "Brand#18")
        & F.col("l_quantity").between(20.0, 30.0)
        & F.col("p_size").between(1, 35)
    )
    pruned = part.filter(
        F.col("p_brand").isin("Brand#12", "Brand#15", "Brand#18")
    )
    joined = lineitem.join(
        F.broadcast(pruned), F.col("l_partkey") == F.col("p_partkey")
    ).filter(branches)
    return joined.agg(_dsum_r6(disc_price()).alias("revenue"))


def top_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue in a
    quarter — a scalar MAX subquery kept tie-exact.

    The per-supplier aggregate is one shuffle on l_suppkey; the global
    max re-reduces those O(suppliers) partials, and the equality filter
    compares EXACT DECIMAL values (rounding to double first could
    manufacture or lose ties).  supplier joins by broadcast.
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(disc_price().cast(DEC_WIDE)).alias("_rev_dec"))
    )
    mx = rev.agg(F.max("_rev_dec").alias("_max_dec"))
    best = rev.join(F.broadcast(mx)).filter(
        F.col("_rev_dec") == F.col("_max_dec")
    )
    return (
        best.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev_dec"), 6).cast("double").alias("total_revenue"),
        )
    )


def nation_market_share(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    region_name: str = "AMERICA",
    supp_nation: str = "NATION_5",
    part_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's yearly share of a part
    type's revenue inside a customer region.

    Numerator and denominator come from ONE aggregation pass — a
    conditional decimal sum on the supplier-nation flag — over a join
    tree where every dimension (region→nation→customer side, supplier,
    part, supplier-nation) broadcasts; only orders⋈lineitem shuffles.
    Output is O(years): driver-scale at any input size.
    """
    r = region.filter(F.col("r_name") == region_name)
    cust_nations = nation.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("_cust_nk"))
    supp_nations = nation.select(
        F.col("n_nationkey").alias("_supp_nk"),
        F.col("n_name").alias("_supp_nation"),
    )
    p = part.filter(F.col("p_type") == part_type)
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("_cust_nk"))
        .join(F.broadcast(supp_nations), F.col("s_nationkey") == F.col("_supp_nk"))
    )
    from_nation = F.when(
        F.col("_supp_nation") == supp_nation, disc_price().cast(DEC_WIDE)
    )
    yearly = joined.groupBy(
        F.year("o_orderdate").alias("o_year")
    ).agg(
        F.round(F.coalesce(F.sum(from_nation), F.lit(0).cast(DEC_WIDE)), 6)
        .cast("double")
        .alias("nation_volume"),
        _dsum_r6(disc_price()).alias("total_volume"),
    )
    return yearly.select(
        "o_year",
        "nation_volume",
        "total_volume",
        F.round(F.col("nation_volume") / F.col("total_volume"), 6).alias(
            "mkt_share"
        ),
    )


def nation_part_profit(
    nation: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    name_pattern: str = "%red%",
    cost_factor: float = 0.8,
) -> DataFrame:
    """TPC-H Q9 shape: profit on a part family by supplier nation and
    order year.

    The testdata has no partsupp table, so supply cost is modeled as
    ``cost_factor × p_retailprice`` (documented proxy — the join/agg
    shape is what Q9 exercises, not the cost constant).  The p_name
    LIKE filter prunes the broadcast part build side; profit per row is
    a double expression cast once to decimal for the order-independent
    grouped sum.  Only orders⋈lineitem shuffles.
    """
    p = part.filter(F.col("p_name").like(name_pattern))
    amount = disc_price() - F.lit(cost_factor) * F.col("p_retailprice") * F.col(
        "l_quantity"
    )
    joined = (
        lineitem.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum_r6(amount).alias("sum_profit"))
    )


def small_quantity_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue lost to small orders.

    Average quantity per part is a correlated scalar subquery in the
    TPC-H text; expressed declaratively it is a grouped aggregate joined
    back to the fact table — Catalyst's decorrelation produces exactly
    this plan from the subquery form too.  Two shuffles on l_partkey
    (per-part average, then the fact join co-partitioned by AQE);
    revenue accumulates in decimal for order-independence.
    """
    part_avg = lineitem.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_limit")
    )
    small = lineitem.join(
        part_avg, F.col("l_partkey") == F.col("_pk")
    ).filter(F.col("l_quantity") < F.col("_qty_limit"))
    return small.agg(
        (_dsum_r6("l_extendedprice") / 7.0).alias("avg_yearly")
    )


def yearly_revenue_growth(
    nation: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Year-over-year revenue growth per supplier nation.

    The grouped decimal-exact aggregate reduces the fact table to
    O(nations × years) rows; the lag window then runs on that tiny
    output (partitioned by nation — no global single-partition sort).
    Growth divides two already-rounded doubles, so both engines divide
    bit-identical operands.
    """
    from pyspark.sql.window import Window

    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    yearly = joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(_dsum_r6(disc_price()).alias("revenue"))
    w = Window.partitionBy("nation").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "nation",
        "o_year",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("yoy_growth"),
    )


def rolling_weekly_revenue(lineitem: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-N-day revenue via a RANGE window frame.

    The grouped decimal aggregate first reduces the fact table to
    O(days) rows, so the global-ordered window is driver-scale at any
    input size (same posture as :func:`daily_revenue_delta`).  The
    frame sums DECIMAL values — exact regardless of how either engine
    walks the frame (running sum vs segment tree) — and rounds to
    double only on output.  RANGE (not ROWS) semantics: calendar gaps
    shrink the frame instead of reaching further back.
    """
    from pyspark.sql.window import Window

    daily = lineitem.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(disc_price().cast(DEC_WIDE)).alias("_rev_dec")
    )
    day_num = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.orderBy("day_num")
        .rangeBetween(-(window_days - 1), Window.currentRow)
    )
    return (
        daily.withColumn("day_num", day_num)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("_rev_dec"), 6).cast("double").alias("revenue"),
            F.round(F.sum("_rev_dec").over(w), 6)
            .cast("double")
            .alias("rolling_revenue"),
        )
    )


def stats_by_flag(lineitem: DataFrame) -> DataFrame:
    """Statistical aggregates per return flag: the moment/regression
    family (corr, covariance, stddev, OLS slope+intercept) in ONE
    grouped pass.

    All six moments come from the same partial-aggregation shuffle —
    Spark's ImperativeAggregates for corr/covar/regr keep a constant
    per-group state (n, means, co-moments) merged associatively, so
    the plan is a single hash-aggregate pair (map-side combine) no
    matter the row count.  Values are order-sensitive in the last few
    ulps (double co-moment accumulation); rounding to 6 places keeps
    both engines on the same grid at these magnitudes.
    """
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr(q, p), 6).alias("corr_qty_price"),
            F.round(F.covar_samp(q, p), 6).alias("covar_qty_price"),
            F.round(F.stddev_samp(q), 6).alias("std_qty"),
            F.round(F.regr_slope(p, q), 6).alias("slope_price_on_qty"),
            F.round(F.regr_intercept(p, q), 6).alias("icept_price_on_qty"),
        )
    )


def revenue_grouping_sets(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue at three explicit aggregation levels via GROUPING SETS:
    (region, nation), (region), and grand total, with a grouping_id
    discriminator.

    GROUPING SETS beats unioning three groupBys: one scan, one
    shuffle — the Expand operator replicates each row once per set
    BEFORE the partial aggregate, so map-side combine still collapses
    the fact side and the shuffle carries pre-aggregated rows.  The
    dimension chain (customer→nation→region) is broadcast end-to-end.
    """
    joined = (
        lineitem.select("l_orderkey", disc_price().cast(DEC_WIDE).alias("_rev"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupingSets(
            [["r_name", "n_name"], ["r_name"], []], "r_name", "n_name"
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("_rev"), 6).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "gid",
            "n_items",
            "revenue",
        )
    )


#: columns profiled by :func:`profile_columns` — (name, kind); kind picks
#: the min/max string rendering ("num" → printf %.6f, "ts" → yyyy-MM-dd
#: HH:mm:ss, "str" → identity) so every engine formats identically —
#: bare double→string casts differ across engines (sci-notation cutoffs).
PROFILE_COLS = (
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_returnflag", "str"),
    ("l_shipdate", "ts"),
)


def _render(col: Column, kind: str) -> Column:
    if kind == "num":
        return F.format_string("%.6f", col)
    if kind == "ts":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def profile_columns(lineitem: DataFrame) -> DataFrame:
    """Data-quality profile: one row per column with count/null/distinct
    /min/max — the first thing a pipeline runs on a new 100 TB drop.

    One aggregate branch PER COLUMN, unioned — not one giant
    multi-distinct aggregate.  N exact distincts in a single agg make
    Catalyst expand every row N+1 times before the partial aggregate
    (measured 6.4 s warm at sf0.1); per-column branches each scan ONE
    pruned parquet column, pay Expand ×2 only (distinct + plain aggs),
    and run as independent stages (measured ~1.3 s).  At 100 TB the
    union reads the same total bytes as the one-scan form — column
    pruning splits the same I/O across branches — and each branch's
    shuffle carries only its own column's partial-distinct values.
    Min/max are emitted as printf-stable strings so numeric, string
    and timestamp columns share one result schema.
    """
    parts = []
    for c, kind in PROFILE_COLS:
        col = F.col(c)
        parts.append(
            lineitem.select(c).agg(
                F.count(col).alias("n_rows"),
                F.sum(F.when(col.isNull(), 1).otherwise(0)).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
                _render(F.min(col), kind).alias("min_s"),
                _render(F.max(col), kind).alias("max_s"),
            ).select(F.lit(c).alias("col_name"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def upsert_customer_balances(
    customer: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """SCD-style MERGE shape without a table format: apply a change
    batch (per-customer order totals) onto the customer snapshot.

    The three MERGE arms in one full outer join:
    * matched        → UPDATE (balance += order total, bump order count)
    * target-only    → keep the existing row untouched
    * source-only    → INSERT (new key, defaults for missing attributes)

    On an engine with Delta/Iceberg this is literally ``MERGE INTO``;
    the full-outer-join + coalesce projection is the portable plan —
    and it is exactly what those formats execute underneath.  The join
    shuffles both sides by key once; AQE picks broadcast when the
    change batch is small (the common nightly-delta case).
    """
    chg = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.sum(F.col("o_totalprice").cast(DEC_WIDE)).alias("_spend"),
        F.count(F.lit(1)).alias("_n_orders"),
    )
    tgt = customer.select(
        F.col("c_custkey").alias("key"),
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )
    merged = tgt.join(chg, "key", "full_outer")
    spend = F.coalesce(F.col("_spend"), F.lit(0).cast(DEC_WIDE))
    return merged.select(
        F.col("key").alias("c_custkey"),
        F.coalesce("c_name", F.lit("UNKNOWN")).alias("c_name"),
        F.round(
            F.coalesce(F.col("c_acctbal"), F.lit(0.0)).cast(DEC_WIDE) + spend, 6
        )
        .cast("double")
        .alias("new_acctbal"),
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("c_mktsegment"),
        F.coalesce("_n_orders", F.lit(0)).alias("n_orders"),
    )


def synth_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """Deterministic partsupp synthesized from part × supplier.

    ``/root/testdata`` ships no partsupp table, which blocked the
    TPC-H Q2/Q16/Q20 shapes; this derives one from the two dimension
    tables with a contract any engine can replay exactly:

    * each part lists 4 suppliers at ``(p_partkey + i·⌊S/4⌋) mod S``
      for i ∈ 0..3 (S = supplier count ≥ 4·⌊S/4⌋, so the four keys are
      distinct — the dbgen spread formula, 0-based);
    * ``h = md5("ps:<p>:<s>")`` — ONE digest per row; availqty and
      supplycost read disjoint 8-hex-char slices of it:
      ``ps_availqty`` = 1 + int(h[1..8], 16) % 9999 (1..9999) and
      ``ps_supplycost`` = (100 + int(h[9..16], 16) % 99900)/100
      (1.00..999.99, exact integer cents over IEEE /100 — identical
      doubles in every engine).

    The supplier
    count is dimension METADATA (a driver scalar, like a k-row
    centroid state) — the synthesized table itself is a row-local
    projection of part, explode + hash, no shuffle, no RNG state, and
    regenerating it on 1000 executors yields byte-identical rows.
    """
    s_cnt = supplier.count()
    if s_cnt < 4:
        raise ValueError("synth_partsupp needs >= 4 suppliers")
    step = max(s_cnt // 4, 1)
    ps = part.select(
        F.col("p_partkey").alias("ps_partkey"),
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
    )
    suppkey = (F.col("ps_partkey") + F.col("_i") * F.lit(step)) % F.lit(s_cnt)

    h = F.md5(
        F.concat(
            F.lit("ps:"),
            F.col("ps_partkey").cast("string"),
            F.lit(":"),
            F.col("ps_suppkey").cast("string"),
        )
    )

    return (
        ps.select("ps_partkey", suppkey.cast("long").alias("ps_suppkey"))
        .withColumn("_h", h)
        .select(
            "ps_partkey",
            "ps_suppkey",
            (F.lit(1) + hex_int("_h", 1) % 9999).alias("ps_availqty"),
            ((F.lit(100) + hex_int("_h", 9) % 99900).cast("double") / F.lit(100)).alias(
                "ps_supplycost"
            ),
        )
    )


def min_cost_suppliers(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    partsupp: DataFrame,
    region_name: str = "EUROPE",
    size: int = 15,
) -> DataFrame:
    """TPC-H Q2 shape: for every part of a given size, the in-region
    supplier(s) offering the minimum supply cost.

    The correlated MIN subquery decorrelates to a per-part aggregate
    + equality join back — the plan Catalyst itself produces for the
    subquery form, written directly: region/nation/supplier reduce to
    a broadcast supplier→nation map, partsupp is scanned ONCE, and the
    per-part min re-joins the same in-region rows.  Cost equality is
    exact: both sides carry the identical synthesized double.  Ties
    (two suppliers at the min) are all kept — LIMIT-free output keeps
    the result deterministic without a total-order sort.
    """
    eu_supp = (
        supplier.join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_eu = partsupp.join(
        F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    target = part.filter(F.col("p_size") == size).select(
        "p_partkey", "p_type", "p_retailprice"
    )
    ps_t = ps_eu.join(
        F.broadcast(target), F.col("ps_partkey") == F.col("p_partkey")
    )
    # group key renamed: joining an aggregate back onto its own input
    # is a self-join, and same-name columns would resolve ambiguously
    mins = ps_t.groupBy(F.col("ps_partkey").alias("_min_pk")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        ps_t.join(
            mins,
            (F.col("ps_partkey") == F.col("_min_pk"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            "p_partkey",
            "p_type",
            "s_name",
            "n_name",
            "s_acctbal",
            F.col("min_cost").alias("supplycost"),
        )
    )


def supplier_count_by_part(
    part: DataFrame,
    supplier: DataFrame,
    partsupp: DataFrame,
    excl_brand: str = "Brand#3",
    excl_type: str = "PROMO",
    sizes: tuple[int, ...] = (1, 4, 9, 16, 25, 36, 49),
) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type,
    size) over qualifying parts, excluding blacklisted suppliers.

    Both exclusion arms are the scale-safe forms: the part predicate
    pushes to the scan, and the supplier blacklist (negative acctbal —
    the testdata stand-in for Q16's complaint comments) is a broadcast
    LEFT ANTI join, i.e. NOT IN without the NULL trap or a shuffle.
    count(DISTINCT ps_suppkey) shuffles once on the (brand, type,
    size) group key with partial dedup map-side.
    """
    good_parts = part.filter(
        (F.col("p_brand") != excl_brand)
        & (F.col("p_type") != excl_type)
        & F.col("p_size").isin(list(sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blacklist = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        partsupp.join(
            F.broadcast(good_parts), F.col("ps_partkey") == F.col("p_partkey")
        )
        .join(
            F.broadcast(blacklist),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


def excess_inventory_suppliers(
    supplier: DataFrame,
    nation: DataFrame,
    partsupp: DataFrame,
    part: DataFrame,
    lineitem: DataFrame,
    nation_name: str = "NATION_3",
    year: int = 1997,
    name_prefix: str = "small",
) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding more than half
    a year's shipped quantity of any part with a given name prefix.

    The nested EXISTS/IN chain decorrelates to: year-filtered lineitem
    aggregates once on (l_partkey, l_suppkey) — the only fact-table
    shuffle; the prefix-part key set broadcasts as a semi join on BOTH
    the aggregate and partsupp; the availqty > ½·qty comparison is
    exact (sum of small integral doubles, below 2⁵³).  The qualifying
    (part, supplier) rows semi-join supplier, so each supplier emits
    once however many parts qualify.
    """
    pkeys = part.filter(F.col("p_name").startswith(name_prefix)).select(
        "p_partkey"
    )
    qty = (
        lineitem.filter(F.year("l_shipdate") == year)
        .join(
            F.broadcast(pkeys), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
    )
    excess = partsupp.join(
        qty,
        (F.col("ps_partkey") == F.col("l_partkey"))
        & (F.col("ps_suppkey") == F.col("l_suppkey"))
        & (F.col("ps_availqty") > 0.5 * F.col("_qty")),
        "inner",
    ).select("ps_suppkey")
    nat = nation.filter(F.col("n_name") == nation_name)
    return (
        supplier.join(
            F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


SHIP_MODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")


def synth_shipping(lineitem: DataFrame) -> DataFrame:
    """Deterministic shipping enrichment of lineitem: the
    ``l_shipmode`` / ``l_commitdate`` / ``l_receiptdate`` columns the
    testdata lacks, derived row-locally so any engine regenerates them
    byte-identically (the same contract as :func:`synth_partsupp`):

    ONE digest per row — ``h = md5("shp:<ok>:<ln>")`` — feeds all
    three columns from disjoint 8-hex-char slices (the digest has 32,
    each slice is an independent uniform):

    * ``l_shipmode``    = SHIP_MODES[int(h[1..8], 16) % 5]
    * ``l_commitdate``  = ship date + (int(h[9..16], 16) % 61 − 30) days
    * ``l_receiptdate`` = ship date + (1 + int(h[17..24], 16) % 30) days

    (ok, ln) = (l_orderkey, l_linenumber), the lineitem primary key.
    A pure projection: no shuffle, no RNG state, pushes through any
    plan; at fact-table scale one md5 per row instead of three is the
    difference that matters.  Unblocks the TPC-H Q12/Q21 shapes
    (commit-vs-receipt lateness semantics).
    """
    h = F.md5(
        F.concat(
            F.lit("shp:"),
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        )
    )

    ship = F.col("l_shipdate").cast("date")
    mode = F.array(*[F.lit(m) for m in SHIP_MODES])[
        (hex_int("_h", 1) % 5).cast("int")
    ]
    return (
        lineitem.withColumn("_h", h)
        .select(
            *lineitem.columns,
            mode.alias("l_shipmode"),
            F.date_add(ship, (hex_int("_h", 9) % 61 - 30).cast("int")).alias(
                "l_commitdate"
            ),
            F.date_add(ship, (1 + hex_int("_h", 17) % 30).cast("int")).alias(
                "l_receiptdate"
            ),
        )
    )


def shipmode_priority_counts(
    lineitem: DataFrame,
    orders: DataFrame,
    modes: tuple[str, ...] = ("MAIL", "SHIP"),
    year: int = 1997,
) -> DataFrame:
    """TPC-H Q12 shape: per ship mode, count of late-committed lines
    received in a year, split by order priority.

    All three date predicates are row-local on the enriched scan (the
    receipt-year filter pushes as far as the synthesized projection
    allows); the orders join carries only (orderkey, priority) and the
    CASE split folds into the single group-by-mode aggregate — one
    shuffle on l_shipmode after a key-join the optimizer is free to
    broadcast or sort-merge from runtime sizes.
    """
    li = synth_shipping(lineitem).filter(
        F.col("l_shipmode").isin(list(modes))
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate").cast("date") < F.col("l_commitdate"))
        & (F.year("l_receiptdate") == year)
    )
    hi = F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    return (
        li.join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_shipmode")
        .agg(
            F.sum(hi.cast("long")).alias("high_line_count"),
            F.sum((~hi).cast("long")).alias("low_line_count"),
        )
    )


def waiting_suppliers(
    supplier: DataFrame,
    nation: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation_name: str = "NATION_7",
) -> DataFrame:
    """TPC-H Q21 shape: suppliers in one nation who were the SOLE late
    supplier on a finalized multi-supplier order.

    The double-correlated EXISTS / NOT EXISTS decorrelates into ONE
    aggregate over the enriched lineitem: per order, the distinct
    supplier count and the distinct LATE supplier count.  A qualifying
    (order, supplier) is a late pair in an order with ≥ 2 suppliers
    and exactly 1 late one — pure column predicates on the aggregate,
    no self-joins of the fact table.  Orders('F') reduces to a semi
    join; supplier/nation broadcast at the end.
    """
    li = synth_shipping(lineitem).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias("_late"),
    )
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    li = li.join(
        f_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(
            F.when(F.col("_late"), F.col("l_suppkey"))
        ).alias("_n_late"),
    )
    waiters = (
        li.filter(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter(
                (F.col("_n_supp") >= 2) & (F.col("_n_late") == 1)
            ),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    nat = nation.filter(F.col("n_name") == nation_name)
    return (
        waiters.join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nat),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
    )


def validate_expectations(
    df: DataFrame,
    checks: "list[tuple[str, Column]]",
    unique_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Deequ-style data-quality gate: declarative constraints evaluated
    in ONE scan, emitting a per-constraint verdict row — the
    contract-check a pipeline runs before accepting a 100 TB drop
    (Schelter et al., VLDB'18's unit-tests-for-data shape).

    ``checks`` is ``(name, violation_condition)`` — the condition is
    TRUE for a row that VIOLATES the constraint, so every check
    compiles to a conditional-sum branch of one aggregate (a single
    row over the exchange, like the k-means update).  ``unique_cols``
    adds ``count(*) − count(distinct c)`` duplicate counts; each
    distinct makes Catalyst Expand the scan, so uniqueness checks are
    computed as SEPARATE single-column branches (profile_columns'
    measured lesson) and unioned in.

    Output: (constraint, n_rows, n_violations, passed) — tiny, fit for
    a circuit-breaker join against downstream jobs.
    """
    # coalesce: SUM over zero rows is NULL — an empty drop must still
    # yield explicit n_violations=0 / passed=true verdicts (the empty
    # case is exactly the one a circuit breaker most needs to decide on).
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(f"_v{i}")
        for i, (_, cond) in enumerate(checks)
    ]
    row = df.agg(*aggs)
    verdicts = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v{i}").alias("n_violations"),
            )
            for i, (name, _) in enumerate(checks)
        ]
    )
    out = row.select(F.explode(verdicts).alias("v")).select("v.*")
    for c in unique_cols:
        out = out.unionByName(
            df.select(c).agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.countDistinct(c))
                .cast("long")
                .alias("n_violations"),
            ).select(
                F.lit(f"unique({c})").alias("constraint"),
                "n_rows",
                "n_violations",
            )
        )
    return out.select(
        "constraint",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    salt_src_col: str,
    salts: int = 16,
) -> DataFrame:
    """Skew-defeating shuffle join: salt the fact side, replicate the
    dim side, join on (key, salt) — the classic remedy when BOTH sides
    are too big to broadcast and the join key is Zipf-skewed (one hot
    key otherwise lands an entire 100 TB stage on one reducer while
    the other 999 executors idle).

    Mechanics: the fact row's salt is ``pmod(salt_src_col, salts)`` —
    deterministic (replayable, AQE-independent) and uniform when the
    source column is a dense id; the dim side is exploded ``salts``
    ways, so every (key, salt) partition holds the full dim row.  The
    hot key's rows now spread across ``salts`` reducers instead of
    one.  The dim side carries an explicit ``merge`` hint: without it
    Spark would broadcast a small dim and the salt would silently do
    nothing — this operator exists to exercise the shuffle path the
    technique is for (plan-pinned in tests).  The salt column never
    escapes: it is dropped after the join, so results are exactly the
    unsalted join's.

    At 100 TB, prefer AQE's skew-join splitting when it fires
    (`spark.sql.adaptive.skewJoin`); explicit salting is the
    deterministic fallback for the cases AQE can't see — e.g. a
    skewed AGGREGATION feeding the join, or a first shuffle whose map
    outputs are already skewed.
    """
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")
    f = fact.withColumn(
        "_salt", F.pmod(F.col(salt_src_col), F.lit(salts)).cast("int")
    )
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return f.join(d.hint("merge"), [key_col, "_salt"]).drop("_salt")
