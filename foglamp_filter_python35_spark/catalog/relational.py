"""Relational capability surface (SURVEY.md §2.4): joins, aggregations,
window functions, sorts/top-k, set ops, rollup, sessionization, as-of.

The reference has none of these (its only "query" is an opaque Python
callable, ``plugin.cpp:284-287``) but its capability surface implies them
(enrichment, buffer-for-aggregation ``plugin.cpp:113-116``).  All are
Catalyst-native; scale notes per query:

* small dims (region/nation/part/supplier/band tables) are explicitly
  ``broadcast()`` — no shuffle of the fact side;
* fact-fact joins (orders x lineitem) shuffle on the join key, which AQE
  re-plans at runtime (skew-split, partition coalescing);
* every aggregate is a partial (map-side) + final hash aggregate — Spark
  does this automatically for all ``groupBy().agg()``;
* top-k per group is window + row_number, which at scale AQE executes as a
  shuffle on the partition key followed by a per-partition sort — no
  global sort.

Float aggregates use the exact-decimal-sum trick (catalog.dsum) so results
hash-match the DuckDB oracle bit-for-bit regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.catalog import (
    QuerySpec,
    davg,
    dsum,
    load,
    o_davg,
    o_dsum,
    o_dsum_expr,
)

# Discounted price, the revenue term of most TPC-H shapes below: the Spark
# spelling (DOUBLE literal) of the oracles' "l_extendedprice * (1.0 -
# l_discount)".
_DISC_PRICE = "l_extendedprice * (1.0D - l_discount)"

# ---------------------------------------------------------------------------
# pricing_summary — TPC-H Q1 shape: scan + pushed filter + 2-key hash agg
# with 8 aggregates.  The canonical "is the agg partial+final and the scan
# pruned" benchmark.
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "2000-06-01"


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(_DISC_PRICE, "sum_disc_price"),
            dsum(f"{_DISC_PRICE} * (1.0D + l_tax)", "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


O_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       {o_dsum("l_quantity", "sum_qty")},
       {o_dsum("l_extendedprice", "sum_base_price")},
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "sum_disc_price")},
       {o_dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", "sum_charge")},
       {o_davg("l_quantity", "avg_qty")},
       {o_davg("l_extendedprice", "avg_price")},
       {o_davg("l_discount", "avg_disc")},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# revenue_by_nation — Q5 shape: 5-way star join.  nation + region broadcast
# (25 / 5 rows at any scale); customer<->orders<->lineitem shuffle on their
# keys and AQE handles skew.
# ---------------------------------------------------------------------------


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum(_DISC_PRICE, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


O_REVENUE_BY_NATION = f"""
SELECT n_name,
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

# ---------------------------------------------------------------------------
# top_orders_per_segment — top-k per group: window row_number, deterministic
# tie-break on o_orderkey.  At scale: shuffle on the partition key only,
# per-partition sort, no global sort.
# ---------------------------------------------------------------------------


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "c_mktsegment", "o_orderkey", "o_totalprice",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


O_TOP_ORDERS_PER_SEGMENT = """
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 5
"""

# ---------------------------------------------------------------------------
# order_priority_semijoin — Q4 shape: EXISTS -> left-semi join (no row
# duplication, no distinct needed; Catalyst picks broadcast or shuffled
# semi automatically).
# ---------------------------------------------------------------------------


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    discounted = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return (
        orders.join(
            discounted, orders.o_orderkey == discounted.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


O_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# ---------------------------------------------------------------------------
# sessionization — lag + gap>30min cumulative flag (the classic distributed
# sessionize: one shuffle on user_id, per-partition sort by ts).
# ---------------------------------------------------------------------------


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap > 1800, 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            (F.sum("new_sess") + 1).cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


O_SESSIONIZATION = """
SELECT user_id,
       CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN date_diff('second',
                             LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id),
                             ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
GROUP BY user_id
ORDER BY user_id
"""

# ---------------------------------------------------------------------------
# hourly_event_rollup — time-bucketed agg (the readings -> hypertable
# rollup pattern; T10's batch twin).
# ---------------------------------------------------------------------------


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .orderBy("hour", "event_type")
    )


O_HOURLY_ROLLUP = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n,
       {o_dsum("value", "sum_value")}
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""

# ---------------------------------------------------------------------------
# rollup_revenue — GROUP BY ROLLUP (subtotals + grand total).
# ---------------------------------------------------------------------------


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum(_DISC_PRICE, "revenue"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


O_ROLLUP_REVENUE = f"""
SELECT l_returnflag, l_linestatus,
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")},
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""

# ---------------------------------------------------------------------------
# set_ops_users — INTERSECT / EXCEPT (distinct semantics both engines).
# ---------------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def users(etype: str, min_value: float) -> DataFrame:
        return ev.filter(
            (F.col("event_type") == etype) & (F.col("value") > min_value)
        ).select("user_id")

    # thresholds chosen so every set op contributes rows at sf0.01
    return (
        users("purchase", 150.0)
        .intersect(users("view", 150.0))
        .subtract(users("error", 180.0))
        .orderBy("user_id")
    )


O_SET_OPS = """
SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150.0
INTERSECT
SELECT user_id FROM events WHERE event_type = 'view' AND value > 150.0
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value > 180.0
ORDER BY user_id
"""

# ---------------------------------------------------------------------------
# distinct_users — exact COUNT(DISTINCT) per group (expand + two-phase agg
# in Spark; approx_count_distinct is the 100 TB escape hatch, tested in
# tests/ but not oracle-checked since HLL sketches differ by engine).
# ---------------------------------------------------------------------------


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "sum_value"),
        )
        .orderBy("event_type")
    )


O_DISTINCT_USERS = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {o_dsum("value", "sum_value")}
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# event_type_pivot — pivot to one column per event type.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    return piv.select(*cols).orderBy("user_id")


O_EVENT_PIVOT = """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view
FROM events
GROUP BY user_id
ORDER BY user_id
"""

# ---------------------------------------------------------------------------
# top_parts_by_revenue — broadcast dim join + agg + top-k.
# ---------------------------------------------------------------------------


def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(dsum(_DISC_PRICE, "revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("p_brand"))
        .limit(10)
    )


O_TOP_PARTS = f"""
SELECT p_brand,
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY revenue DESC, p_brand
LIMIT 10
"""

# ---------------------------------------------------------------------------
# asof_last_signup — as-of join (Spark lacks a native one).  Distributed
# formulation: running MAX over an event-time window (RANGE frame, ties
# included) — one shuffle on user_id, no per-row lookups.  The DuckDB
# oracle states the same semantics relationally.
# ---------------------------------------------------------------------------


def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")  # default RANGE frame
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return (
        ev.withColumn("last_signup_ts", F.max(signup_ts).over(w))
        .select("event_id", "user_id", "ts", "event_type", "last_signup_ts")
    )


O_ASOF_LAST_SIGNUP = """
SELECT event_id, user_id, ts, event_type,
       MAX(CASE WHEN event_type = 'signup' THEN ts END)
         OVER (PARTITION BY user_id ORDER BY ts) AS last_signup_ts
FROM events
"""

# ---------------------------------------------------------------------------
# value_band_join — range join rewritten as an equi-join (the scalable
# form: derive the band key, broadcast the tiny band dim; a naive
# range-condition join would be a nested-loop at scale).
# ---------------------------------------------------------------------------

_BAND_WIDTH = 50


def q_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bands = spark.range(0, 10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * _BAND_WIDTH).cast("double").alias("lo"),
        ((F.col("id") + 1) * _BAND_WIDTH).cast("double").alias("hi"),
    )
    keyed = ev.withColumn(
        "band_id", F.floor(F.col("value") / _BAND_WIDTH).cast("long")
    )
    return (
        keyed.join(F.broadcast(bands), "band_id")
        .groupBy("band_id", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("band_id")
    )


O_VALUE_BAND_JOIN = f"""
SELECT band_id, lo, hi, COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")}
FROM (
  SELECT i AS band_id, CAST(i * {_BAND_WIDTH} AS DOUBLE) AS lo,
         CAST((i + 1) * {_BAND_WIDTH} AS DOUBLE) AS hi
  FROM range(0, 10) t(i)
) bands
JOIN events ON value >= lo AND value < hi
GROUP BY band_id, lo, hi
ORDER BY band_id
"""

# ---------------------------------------------------------------------------
# customers_without_orders — anti join: customers with no orders since a
# cutoff (churn detection).  Catalyst plans left_anti as a broadcast /
# shuffled hash anti join; the build side is the filtered key column only,
# so at 100 TB this is one shuffle of keys, never the wide fact rows.
# ---------------------------------------------------------------------------

_CHURN_CUTOFF = "2000-01-01"


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_CHURN_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


O_CUSTOMERS_WITHOUT_ORDERS = f"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '{_CHURN_CUTOFF}'
)
ORDER BY c_custkey
"""

# ---------------------------------------------------------------------------
# cube_revenue — CUBE over (segment, priority): all 4 grouping combinations
# in one pass.  Spark expands cube into a single expand+hash-agg (one
# shuffle for all groupings, partials map-side).
# ---------------------------------------------------------------------------


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            dsum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


O_CUBE_REVENUE = f"""
SELECT c_mktsegment, o_orderpriority,
       {o_dsum("o_totalprice", "revenue")},
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
ORDER BY c_mktsegment, o_orderpriority
"""

# ---------------------------------------------------------------------------
# orders_above_cust_avg — the correlated-subquery shape ("rows above their
# group's average"), decorrelated as agg + self-join: one pass computes the
# per-customer mean, re-joined on the grouping key.  At scale both sides
# shuffle on o_custkey once; AQE picks broadcast if the agg side is small.
# ---------------------------------------------------------------------------


def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    avg_per_cust = orders.groupBy("o_custkey").agg(
        davg("o_totalprice", "cust_avg"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        orders.join(
            avg_per_cust.filter(F.col("n") >= 2).drop("n"), "o_custkey"
        )
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
        .orderBy("o_orderkey")
    )


O_ORDERS_ABOVE_CUST_AVG = f"""
WITH avg_per_cust AS (
  SELECT o_custkey,
         {o_davg("o_totalprice", "cust_avg")},
         COUNT(*) AS n
  FROM orders GROUP BY o_custkey
)
SELECT o_orderkey, o.o_custkey, o_totalprice, cust_avg
FROM orders o
JOIN avg_per_cust a ON o.o_custkey = a.o_custkey AND a.n >= 2
WHERE o_totalprice > cust_avg
ORDER BY o_orderkey
"""

# ---------------------------------------------------------------------------
# skewed_asset_rollup — per-asset rollup computed through the two-phase
# SALTED aggregation (functions/skew.py).  event_type has 5 hot keys over
# the whole corpus — the worst-case skew shape — so a naive shuffle lands
# each key on one task; the salted plan spreads each over 8.  The oracle
# is the plain GROUP BY: salting is an algebraic rewrite and must produce
# bit-identical results (decimal partials keep the sums exact).
# ---------------------------------------------------------------------------


def q_skewed_asset_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.functions.skew import salted_agg

    ev = load(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", F.lit(1)),
            "sum_dec": ("sum", F.col("value").cast("decimal(38,6)")),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        n_salts=8,
        entropy_cols=["event_id"],
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("event_type")


O_SKEWED_ASSET_ROLLUP = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")},
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# shipping_priority — TPC-H Q3 shape: 3-way join, filter both fact sides,
# group + top-10 by revenue.  Both date filters push to their scans; the
# top-10 is TakeOrdered (no global sort).
# ---------------------------------------------------------------------------

_Q3_DATE = "1998-01-01"


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp"))
        .join(
            orders.filter(
                F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            cust.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_DISC_PRICE, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


O_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate,
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '{_Q3_DATE}'
  AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
  AND c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

# ---------------------------------------------------------------------------
# forecast_revenue — TPC-H Q6 shape: pure scan + 3 pushed predicates + one
# global sum.  The "is the scan actually pruned" microbenchmark.
# ---------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            dsum("l_extendedprice * l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


O_FORECAST_REVENUE = f"""
SELECT {o_dsum("l_extendedprice * l_discount", "revenue")},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
"""

# ---------------------------------------------------------------------------
# event_funnel — signup -> purchase conversion per user: the canonical
# event-analytics shape.  One window pass finds each user's first signup;
# a conditional aggregate counts who purchased after it.  At scale: one
# shuffle on user_id, then a tiny global rollup.
# ---------------------------------------------------------------------------


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    converted = (
        first_signup.join(purchases, "user_id", "left")
        .groupBy("user_id", "signup_ts")
        .agg(
            F.max(
                F.when(
                    F.col("purchase_ts") >= F.col("signup_ts"), 1
                ).otherwise(0)
            ).alias("converted")
        )
    )
    return converted.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.sum("converted").alias("n_converted"),
    )


O_EVENT_FUNNEL = """
WITH first_signup AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT f.user_id,
         MAX(CASE WHEN p.ts >= f.signup_ts THEN 1 ELSE 0 END) AS converted
  FROM first_signup f
  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ON p.user_id = f.user_id
  GROUP BY f.user_id
)
SELECT COUNT(*) AS n_signup_users,
       CAST(SUM(converted) AS BIGINT) AS n_converted
FROM conv
"""

# ---------------------------------------------------------------------------
# top_suppliers — TPC-H Q15 shape: per-supplier revenue over a shipdate
# range, enriched with broadcast supplier+nation dims, top 5.  The fact
# side aggregates BEFORE the dim joins, so the join input is one row per
# supplier, not one per lineitem.
# ---------------------------------------------------------------------------


def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    per_supp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(_DISC_PRICE, "total_revenue"))
    )
    return (
        per_supp.join(
            F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "total_revenue")
        .orderBy(F.col("total_revenue").desc(), F.col("s_suppkey"))
        .limit(5)
    )


O_TOP_SUPPLIERS = f"""
WITH per_supp AS (
  SELECT l_suppkey,
         {o_dsum("l_extendedprice * (1.0 - l_discount)", "total_revenue")}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, n_name, total_revenue
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
ORDER BY total_revenue DESC, s_suppkey
LIMIT 5
"""

# ---------------------------------------------------------------------------
# returned_items — TPC-H Q10 shape: customers ranked by revenue lost to
# returns in a quarter.  Fact filter pushes to both scans; the customer
# dim joins AFTER the per-customer aggregate (one row per customer).
# ---------------------------------------------------------------------------


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(dsum(_DISC_PRICE, "lost_revenue"))
    )
    return (
        per_cust.join(
            F.broadcast(cust), per_cust.o_custkey == cust.c_custkey
        )
        .select("c_custkey", "c_name", "c_mktsegment", "lost_revenue")
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


O_RETURNED_ITEMS = f"""
WITH per_cust AS (
  SELECT o_custkey,
         {o_dsum("l_extendedprice * (1.0 - l_discount)", "lost_revenue")}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-04-01'
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, c_mktsegment, lost_revenue
FROM per_cust JOIN customer ON o_custkey = c_custkey
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""

# ---------------------------------------------------------------------------
# priority_by_linestatus — TPC-H Q12 shape: conditional aggregation
# (CASE-WHEN counts inside one hash agg) after a fact-fact join.
# ---------------------------------------------------------------------------


def q_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    is_urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


O_PRIORITY_BY_LINESTATUS = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

# ---------------------------------------------------------------------------
# volume_shipping — TPC-H Q7 shape: two independent dimension lookups on the
# SAME tiny table (nation), both broadcast; the fact-fact chain shuffles on
# its keys.  The symmetric nation-pair filter lands after the broadcasts, so
# the fact side is filtered before the group-by.
# ---------------------------------------------------------------------------

_Q7_N1, _Q7_N2 = "NATION_1", "NATION_2"


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n_s = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n_c = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    pair = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(_DISC_PRICE, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


O_VOLUME_SHIPPING = f"""
SELECT supp_nation, cust_nation, l_year,
       {o_dsum("volume", "revenue")}
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1.0 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE (ns.n_name = '{_Q7_N1}' AND nc.n_name = '{_Q7_N2}')
     OR (ns.n_name = '{_Q7_N2}' AND nc.n_name = '{_Q7_N1}')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

# ---------------------------------------------------------------------------
# market_share — TPC-H Q8 shape: ratio of a conditional aggregate to the
# total, per year.  Both numerator and denominator are exact decimal sums
# computed in ONE pass (no second scan), divided once in double.
# ---------------------------------------------------------------------------

_Q8_NATION, _Q8_REGION = "NATION_5", "EUROPE"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    n_c = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cr_key"),
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    national = (
        f"CASE WHEN supp_nation = '{_Q8_NATION}' THEN {_DISC_PRICE}"
        " ELSE 0.0D END"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region), F.col("cr_key") == region.r_regionkey
        )
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("r_name") == _Q8_REGION)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            dsum(national, "national_volume"),
            dsum(_DISC_PRICE, "total_volume"),
        )
        .withColumn(
            "mkt_share",
            F.col("national_volume") / F.col("total_volume"),
        )
        .orderBy("o_year")
    )


O_MARKET_SHARE = f"""
SELECT o_year,
       {o_dsum("national", "national_volume")},
       {o_dsum("volume", "total_volume")},
       {o_dsum_expr("national")}
         / {o_dsum_expr("volume")} AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1.0 - l_discount) AS volume,
         CASE WHEN ns.n_name = '{_Q8_NATION}'
              THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
           AS national
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = '{_Q8_REGION}'
)
GROUP BY o_year
ORDER BY o_year
"""

# ---------------------------------------------------------------------------
# product_profit — TPC-H Q9 shape: substring part filter (pushed to the
# broadcast-dim scan, prunes the fact join), profit by supplier nation and
# year.
# ---------------------------------------------------------------------------

_Q9_TOKEN = "widget"


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").contains(_Q9_TOKEN))),
            li.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(dsum(_DISC_PRICE, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


O_PRODUCT_PROFIT = f"""
SELECT n_name AS nation, year(l_shipdate) AS o_year,
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "sum_profit")}
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{_Q9_TOKEN}%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""

# ---------------------------------------------------------------------------
# important_parts — TPC-H Q11 shape: group-by + HAVING against a scalar
# subquery over the same fact.  Spark: one aggregated frame, its grand
# total broadcast back as a 1-row cross join — the fact is scanned once
# for the partials; no correlated re-execution.
# ---------------------------------------------------------------------------

_Q11_FRACTION = 0.0008


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(dsum(_DISC_PRICE, "part_value"))
    total = per_part.agg(
        dsum("part_value", "total_value", scale=6)
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_value")
            > F.col("total_value") * F.lit(_Q11_FRACTION)
        )
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


O_IMPORTANT_PARTS = f"""
WITH per_part AS (
  SELECT l_partkey,
         {o_dsum("l_extendedprice * (1.0 - l_discount)", "part_value")}
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (
  SELECT {o_dsum("part_value", "t")} FROM per_part
) * CAST({_Q11_FRACTION} AS DOUBLE)
ORDER BY part_value DESC, l_partkey
"""

# ---------------------------------------------------------------------------
# custdist — TPC-H Q13 shape: LEFT join (customers with zero orders must
# survive), per-customer count, then a second aggregation over the counts.
# Two shuffles total; both aggregates are partial+final.
# ---------------------------------------------------------------------------


def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


O_CUSTDIST = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# ---------------------------------------------------------------------------
# promo_revenue — TPC-H Q14 shape: conditional-sum ratio over one month of
# shipments; the date filter pushes to the scan, part is broadcast.
# ---------------------------------------------------------------------------

_Q14_START, _Q14_END = "1998-01-01", "1998-04-01"


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    promo = f"CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE} ELSE 0.0D END"
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(_Q14_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q14_END).cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum(promo, "promo_volume"),
            dsum(_DISC_PRICE, "total_volume"),
        )
        .withColumn(
            "promo_revenue",
            F.lit(100.0) * F.col("promo_volume") / F.col("total_volume"),
        )
    )


O_PROMO_REVENUE = f"""
SELECT {o_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", "promo_volume")},
       {o_dsum("l_extendedprice * (1.0 - l_discount)", "total_volume")},
       CAST(100.0 AS DOUBLE)
         * {o_dsum_expr("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         / {o_dsum_expr("l_extendedprice * (1.0 - l_discount)")}
         AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{_Q14_START}'
  AND l_shipdate <  TIMESTAMP '{_Q14_END}'
"""

# ---------------------------------------------------------------------------
# small_qty_revenue — TPC-H Q17 shape: correlated per-part average
# decorrelated into agg + join; the brand filter prunes via the broadcast
# part dim while the per-part average is computed over ALL lineitems of the
# part (Q17's inner query ignores the outer brand filter).
# ---------------------------------------------------------------------------

_Q17_BRAND = "Brand#3"


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_brand") == _Q17_BRAND)),
            li.l_partkey == part.p_partkey,
        )
        .join(avg_q, li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice", "s") / F.lit(7.0)).alias("avg_yearly")
        )
    )


O_SMALL_QTY_REVENUE = f"""
WITH avg_q AS (
  SELECT l_partkey AS ap_key, {o_davg("l_quantity", "avg_qty")}
  FROM lineitem GROUP BY l_partkey
)
SELECT {o_dsum_expr("l_extendedprice")}
         / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part  ON l_partkey = p_partkey
JOIN avg_q ON l_partkey = ap_key
WHERE p_brand = '{_Q17_BRAND}'
  AND l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
"""

# ---------------------------------------------------------------------------
# large_orders — TPC-H Q18 shape: group-by-HAVING on the fact, then join
# the surviving keys back to orders/customer.  The HAVING side aggregates
# BEFORE the joins, so only qualifying orderkeys enter them.
# ---------------------------------------------------------------------------

_Q18_MIN_QTY = 250.0


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_key"))
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    return (
        orders.join(big, orders.o_orderkey == F.col("big_key"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty"
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


O_LARGE_ORDERS = f"""
WITH big AS (
  SELECT l_orderkey AS big_key, {o_dsum("l_quantity", "sum_qty")}
  FROM lineitem GROUP BY l_orderkey
  HAVING {o_dsum_expr("l_quantity")}
         > {_Q18_MIN_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = big_key
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""

# ---------------------------------------------------------------------------
# disjunctive_filter — TPC-H Q19 shape: OR-of-ANDs across both join sides.
# Catalyst pushes the part-only and lineitem-only conjuncts to their scans
# and evaluates the residual disjunction after the broadcast join — the
# shape that breaks naive pushdown implementations.
# ---------------------------------------------------------------------------


def q_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 5))
            & q.between(1.0, 11.0)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 10))
            & q.between(10.0, 20.0)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 15))
            & q.between(20.0, 30.0)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(_DISC_PRICE, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


O_DISJUNCTIVE_FILTER = f"""
SELECT {o_dsum("l_extendedprice * (1.0 - l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""

# ---------------------------------------------------------------------------
# sales_opportunity — TPC-H Q22 shape: scalar subquery (average positive
# balance) + anti join (customers with no RECENT orders), grouped by
# nation.  The scalar is one tiny broadcast row; the anti join ships the
# filtered key column only.
# ---------------------------------------------------------------------------

_Q22_CUTOFF = "2001-01-01"


def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    recent = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp")
        )
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", "avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


O_SALES_OPPORTUNITY = f"""
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       {o_dsum("c_acctbal", "totacctbal")}
FROM customer c
WHERE c_acctbal > (
  SELECT {o_davg("c_acctbal", "a")} FROM customer WHERE c_acctbal > 0.0
)
AND NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'
)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

# ---------------------------------------------------------------------------
# props_json_stats — semi-structured extraction: pull a typed field out of
# the JSON props payload and aggregate it.  get_json_object evaluates
# JVM-side inside codegen (no Python); at 100 TB the JSON parse is the
# per-row cost and the aggregate shuffles partials only.  Integer SUM is
# CAST to BIGINT on the oracle side (DuckDB widens to HUGEINT).
# ---------------------------------------------------------------------------


def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


O_PROPS_JSON_STATS = """
SELECT event_type,
       COUNT(k) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# revenue_deciles — the ranking-function family (ntile / dense_rank /
# percent_rank) over per-customer revenue, partitioned by market segment.
# Per-partition ranking = shuffle on segment + per-partition sort; a
# GLOBAL unpartitioned ntile would be a one-task sort at scale (the
# production variant for global quantiles is approx_percentile cutoffs +
# a broadcast join).  percent_rank divides exact ints, so it is
# bit-deterministic.
# ---------------------------------------------------------------------------


def q_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per_cust = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(dsum("o_totalprice", "revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return per_cust.select(
        "c_custkey",
        "c_mktsegment",
        "revenue",
        F.ntile(10).over(w).alias("decile"),
        F.dense_rank().over(w).alias("drank"),
        F.percent_rank().over(w).alias("prank"),
    ).orderBy("c_mktsegment", "drank", "c_custkey")


O_REVENUE_DECILES = f"""
WITH per_cust AS (
  SELECT c_custkey, c_mktsegment,
         {o_dsum("o_totalprice", "revenue")}
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment
)
SELECT c_custkey, c_mktsegment, revenue,
       NTILE(10) OVER w AS decile,
       DENSE_RANK() OVER w AS drank,
       PERCENT_RANK() OVER w AS prank
FROM per_cust
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY revenue DESC, c_custkey)
ORDER BY c_mktsegment, drank, c_custkey
"""

# ---------------------------------------------------------------------------
# name_fuzzy_match — blocked fuzzy join (entity resolution): candidate
# pairs come from an EQUI-join on a blocking key (the name's last token),
# then exact levenshtein filters within the block.  The scale-correct
# shape — never an all-pairs theta join; a block is only as quadratic as
# its own size, and blocking keys are chosen to keep blocks small.
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 4

#: Blocks larger than this are dropped from candidate generation.  A
#: blocking key drawn from a FIXED vocabulary (here: the name's last
#: token) produces blocks that grow linearly with the corpus — the
#: within-block pair join then grows quadratically.  Capping block size
#: bounds any block's pair count at max_block^2, the same recall
#: contract as the n-gram dedup DF cutoff: an over-common key carries no
#: discriminating signal.  At the test SFs no block reaches the cap
#: (asserted by test), so results are unchanged; the cap is structural.
_FUZZY_MAX_BLOCK = 1000


def q_name_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    names = part.select("p_name").distinct().withColumn(
        "block", F.element_at(F.split("p_name", " "), -1)
    )
    small = (
        names.groupBy("block")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") <= _FUZZY_MAX_BLOCK)
        .select("block")
    )
    pruned = names.join(F.broadcast(small), "block")
    a = pruned.select(
        F.col("p_name").alias("name_a"), F.col("block")
    )
    b = pruned.select(
        F.col("p_name").alias("name_b"), F.col("block")
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


O_NAME_FUZZY_MATCH = f"""
WITH names AS (
  SELECT DISTINCT p_name,
         string_split(p_name, ' ')[-1] AS block
  FROM part
),
small AS (
  SELECT block FROM names GROUP BY block
  HAVING COUNT(*) <= {_FUZZY_MAX_BLOCK}
),
pruned AS (SELECT n.* FROM names n JOIN small USING (block))
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM pruned a JOIN pruned b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
ORDER BY name_a, name_b
"""

# ---------------------------------------------------------------------------
# waiting_suppliers — TPC-H Q21 shape: suppliers who were the SOLE late
# supplier of a multi-supplier order.  The canonical EXISTS + NOT-EXISTS
# pair over the fact table, decorrelated into ONE aggregation per order
# (distinct-supplier count, late-supplier count, the late supplier id) —
# one orderkey shuffle replaces two correlated self-joins; the schema's
# lack of commit/receipt dates adapts "late" to shipping >60 days after
# the order date (shape-preserving).
# ---------------------------------------------------------------------------

_LATE_DAYS = 60


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), _LATE_DAYS)
    tagged = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select("l_orderkey", "l_suppkey", late.alias("_late"))
    # two-level aggregation instead of two COUNT(DISTINCT)s in one agg:
    # multiple distincts make Spark Expand the input x3 (one replica per
    # distinct group) BEFORE the shuffle — on the fact table that
    # triples the largest exchange in the query.  Collapsing to
    # (order, supplier) grain first needs only plain partial+final hash
    # aggs; the second agg's input is already distinct by construction.
    per_os = tagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_late")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("n_late"),
        F.min(F.when(F.col("_late"), F.col("l_suppkey"))).alias("the_late"),
    )
    qual = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
    )
    return (
        qual.join(
            F.broadcast(supplier), qual.the_late == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


O_WAITING_SUPPLIERS = f"""
WITH tagged AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL {_LATE_DAYS} DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
         MIN(CASE WHEN late THEN l_suppkey END) AS the_late
  FROM tagged GROUP BY l_orderkey
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON the_late = s_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""

# ---------------------------------------------------------------------------
# latest_event_per_user — keep-newest dedup: one row per (user, event
# type), the most recent by (ts, event_id).  The "keep the latest crawl
# of each URL" pipeline shape: ONE shuffle on the dedup key, window
# row_number, rank-1 filter (Spark executes this as a per-partition
# sort, no global sort).  Ties on ts break by event_id so the winner is
# deterministic in any engine.
# ---------------------------------------------------------------------------


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.filter(F.col("user_id").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    )


O_LATEST_EVENT_PER_USER = """
SELECT user_id, event_type, event_id, value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
)
WHERE rn = 1
ORDER BY user_id, event_type
"""

# ---------------------------------------------------------------------------
# grouping_sets_revenue — explicit GROUPING SETS over two UNRELATED dims
# (customer nation, market segment) plus the grand total: the shape CUBE /
# ROLLUP can't express without computing unwanted cross combinations.
# One pass over the joined fact, partial+final agg per set; GROUPING()
# flags disambiguate "null because not in this set" from a real null.
# ---------------------------------------------------------------------------


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return (
        joined.groupingSets(
            [["n_name"], ["c_mktsegment"], []], "n_name", "c_mktsegment"
        )
        .agg(
            F.grouping("n_name").cast("bigint").alias("g_nation"),
            F.grouping("c_mktsegment").cast("bigint").alias("g_segment"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("g_nation", "g_segment", "n_name", "c_mktsegment")
    )


O_GROUPING_SETS_REVENUE = f"""
SELECT n_name, c_mktsegment,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {o_dsum("o_totalprice", "revenue")}
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
ORDER BY g_nation, g_segment, n_name, c_mktsegment
"""

# ---------------------------------------------------------------------------
# value_histogram — numeric profiling: fixed-width histogram of
# l_extendedprice by integer bucketing (floor(x / width)).  Bucketing is
# a map-side expression; one partial+final agg — the standard
# data-profiling pass before outlier clipping at 100 TB.  All bucket
# arithmetic is single-rounded IEEE (one divide, one floor), so bucket
# assignment is bit-identical across engines.
# ---------------------------------------------------------------------------

_HIST_WIDTH = 5000.0


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / _HIST_WIDTH).cast("bigint")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .orderBy("bucket")
    )


O_VALUE_HISTOGRAM = f"""
SELECT CAST(floor(l_extendedprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY bucket
ORDER BY bucket
"""

# ---------------------------------------------------------------------------
# retention_cohorts — cohort analysis over the event stream: users
# bucketed by first-seen week, distinct-user counts per (cohort week,
# week offset).  ONE shuffle keyed on user_id computes the per-user
# first-seen week as a window min (no self-join of the event table),
# then one agg keyed on (cohort, offset).  Week truncation is ISO-Monday
# in both engines; offsets are exact multiples of 7 days, so the
# division is integer-exact.
# ---------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("week", F.min("ts").over(w)).cast("date")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    return (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            # ISO string, not DATE: engines render date columns through
            # different host types (datetime.date vs datetime64) and the
            # driver hashes stringified values
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(week, cohort) / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


O_RETENTION_COHORTS = """
WITH cohorts AS (
  SELECT user_id, ts,
         CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
              AS DATE) AS cw,
         CAST(date_trunc('week', ts) AS DATE) AS event_week
  FROM events
  WHERE user_id IS NOT NULL
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cw, event_week) // 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM cohorts
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""

# ---------------------------------------------------------------------------
# min_cost_supplier — TPC-H Q2 shape (correlated MIN subquery): for each
# part of a family, the region supplier(s) whose best offer equals the
# part's minimum offer.  No partsupp table in this corpus, so the offer
# book is derived from lineitem (min unit price per part x supplier) —
# the plan shape is Q2's: dims broadcast BEFORE the fact aggregate so
# only qualifying (part, supplier) rows are aggregated, the correlated
# MIN decorrelates into one per-part window over the aggregate, and no
# self-join of the fact table ever happens.  Unit prices are per-row
# IEEE divisions (identical both engines); MIN is exact.
# ---------------------------------------------------------------------------

_Q2_TYPE = "STANDARD"
_Q2_MAX_SIZE = 25
_Q2_REGION = "ASIA"


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == _Q2_TYPE) & (F.col("p_size") < _Q2_MAX_SIZE)
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name") == _Q2_REGION
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "n_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "cost"
            )
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("best", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("best"))
        .select("p_partkey", "p_name", "s_name", "n_name", "cost")
        .orderBy("cost", "p_partkey", "s_name")
        .limit(100)
    )


O_MIN_COST_SUPPLIER = f"""
WITH supp AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = '{_Q2_REGION}'),
offers AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
         MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
           AND p_type = '{_Q2_TYPE}' AND p_size < {_Q2_MAX_SIZE}
  JOIN supp ON l_suppkey = s_suppkey
  GROUP BY p_partkey, p_name, s_suppkey, s_name, n_name),
best AS (
  SELECT *, MIN(cost) OVER (PARTITION BY p_partkey) AS best FROM offers)
SELECT p_partkey, p_name, s_name, n_name, cost
FROM best WHERE cost = best
ORDER BY cost, p_partkey, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# dominant_part_suppliers — TPC-H Q20 shape (nested aggregate + semi
# join): suppliers who shipped MORE THAN HALF of a filtered part
# family's total shipped quantity in a year.  Quantity sums are decimal
# (order-free both engines); the per-part total is a window over the
# per-(part, supplier) aggregate — the nested aggregate never rescans
# the fact — and the supplier dim joins AFTER the distinct, so only
# qualifying keys reach it.
# ---------------------------------------------------------------------------

_Q20_PREFIX = "small%"
_Q20_YEAR_LO = "1996-01-01"
_Q20_YEAR_HI = "1997-01-01"
_Q20_SHARE = 0.5


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q20_YEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q20_YEAR_HI).cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").filter(
        F.col("p_name").like(_Q20_PREFIX)
    )
    pairs = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("qty_dec")
        )
    )
    w = Window.partitionBy("l_partkey")
    qual = (
        pairs.withColumn("tot_dec", F.sum("qty_dec").over(w))
        .filter(
            F.col("qty_dec").cast("double")
            > F.col("tot_dec").cast("double") * F.lit(_Q20_SHARE)
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    return (
        qual.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


O_DOMINANT_PART_SUPPLIERS = f"""
WITH pairs AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '{_Q20_PREFIX}'
  WHERE l_shipdate >= TIMESTAMP '{_Q20_YEAR_LO}'
    AND l_shipdate < TIMESTAMP '{_Q20_YEAR_HI}'
  GROUP BY l_partkey, l_suppkey),
qual AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey,
           CAST(qty_dec AS DOUBLE) AS q,
           CAST(SUM(qty_dec) OVER (PARTITION BY l_partkey) AS DOUBLE) AS t
    FROM pairs)
  WHERE q > t * {_Q20_SHARE})
SELECT s_suppkey, s_name, n_name
FROM qual
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# salted_enrich_rollup — G11's salted JOIN on a driver-checkable path:
# the events fact (5 event_type keys over the whole table: every key is
# hot) joins a category dim via salted_join — the hot side spreads over
# 8 salts, the dim replicates once per salt — then one category rollup.
# The salting must be algebraically invisible: the oracle is the PLAIN
# unsalted join, so any salt-induced duplication or loss hash-fails.
# ---------------------------------------------------------------------------

_EVENT_DIM = [
    ("click", "engagement", 1.0),
    ("view", "engagement", 0.5),
    ("purchase", "conversion", 3.0),
    ("signup", "conversion", 2.0),
    ("error", "ops", 0.25),
]


def q_salted_enrich_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.functions.skew import (  # noqa: PLC0415
        salted_join,
    )

    ev = load(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        _EVENT_DIM, "event_type string, category string, weight double"
    )
    joined = salted_join(
        ev, dim, "event_type", n_salts=8, entropy_cols=["event_id"]
    )
    return (
        joined.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value * weight", "weighted_value"),
        )
        .orderBy("category")
    )


_DIM_VALUES = ", ".join(
    f"('{t}', '{c}', CAST({w} AS DOUBLE))" for t, c, w in _EVENT_DIM
)

O_SALTED_ENRICH_ROLLUP = f"""
WITH dim(event_type, category, weight) AS (VALUES {_DIM_VALUES})
SELECT category,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {o_dsum("value * weight", "weighted_value")}
FROM events JOIN dim USING (event_type)
GROUP BY category
ORDER BY category
"""


# ---------------------------------------------------------------------------
# parts_supplier_counts — TPC-H Q16 shape (COUNT DISTINCT + NOT IN):
# how many distinct suppliers can deliver each (brand, type, size)
# part family, excluding brands/types under promotion and suppliers on
# a complaint list (adapted: negative account balance; the corpus has
# no partsupp, so supplier capability = "has shipped it" in lineitem).
# Completes the 22/22 TPC-H shape coverage.  Plan: the (part, supplier)
# pair set is distinct-ed BEFORE the dim joins, the part dim and the
# complaint list are broadcast, and the exclusion is a broadcast ANTI
# join — the fact table is scanned once.
# ---------------------------------------------------------------------------

_Q16_EXCL_BRAND = "Brand#1"
_Q16_EXCL_TYPE = "PROMO"


def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != _Q16_EXCL_BRAND)
        & (F.col("p_type") != _Q16_EXCL_TYPE)
    )
    complaints = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


O_PARTS_SUPPLIER_COUNTS = f"""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
         AND p_brand <> '{_Q16_EXCL_BRAND}' AND p_type <> '{_Q16_EXCL_TYPE}'
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# weekday_hour_heatmap — the ops-dashboard calendar rollup: event count
# and decimal-exact mean value per (day-of-week, hour-of-day) cell.  One
# partial+final hash aggregate over 168 cells.  DOW convention pinned
# explicitly: 0 = Sunday in both expressions (Spark dayofweek() is
# 1-based Sunday-first; DuckDB dow is 0-based Sunday-first).
# ---------------------------------------------------------------------------


def q_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg("value", "mean_value"),
        )
        .orderBy("dow", "hod")
    )


O_WEEKDAY_HOUR_HEATMAP = f"""
SELECT CAST(date_part('dow', ts) AS INTEGER) AS dow,
       CAST(date_part('hour', ts) AS INTEGER) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {o_davg("value", "mean_value")}
FROM events
GROUP BY dow, hod
ORDER BY dow, hod
"""


# ---------------------------------------------------------------------------
# column_profile — data-quality profiling: per-column value/null counts,
# min/max, and decimal-exact mean for every numeric lineitem measure, in
# ONE scan and ONE aggregate row unpivoted to long form.  The profiling
# pass every warehouse load runs; at 100 TB the single-pass shape (no
# per-column scans) is the point.
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"n_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            # quantized-integer sum (catalog.dsum mechanism): order-free,
            # tie-safe, and skips Spark's interpreted Decimal agg
            F.sum(
                F.floor(F.col(c) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
            ).alias(f"s_{c}"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, min_{c}, max_{c}, "
        f"CAST(s_{c} AS DOUBLE) / 1e6 / n_{c}"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_values, min, max, mean)"
        ),
        (F.col("n_rows") - F.col("n_values")).cast("bigint").alias("n_nulls"),
    ).select(
        "col_name", "n_values", "n_nulls", "min", "max", "mean"
    ).orderBy("col_name")


def _profile_row(c: str) -> str:
    return f"""
  SELECT '{c}' AS col_name,
         CAST(COUNT({c}) AS BIGINT) AS n_values,
         CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
         MIN({c}) AS min, MAX({c}) AS max,
         CAST(SUM(CAST(FLOOR({c} * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1e6 / COUNT({c}) AS mean
  FROM lineitem"""


O_COLUMN_PROFILE = (
    "\nUNION ALL\n".join(_profile_row(c) for c in _PROFILE_COLS)
    + "\nORDER BY col_name"
)


# ---------------------------------------------------------------------------
# snapshot_diff — CDC-style reconciliation of two table snapshots: FULL
# OUTER join on the key, classify added / removed / changed / unchanged,
# report one row per class.  (Snapshots are deterministically derived
# from orders: "old" drops keys ending in 9, "new" drops keys ending in
# 0 and bumps every third price — so all four classes are non-empty.)
# Both sides enter the join pre-projected to (key, compare-hash-able
# attrs); one shuffle per side on the key.
# ---------------------------------------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 9).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    j = old.join(new, "key", "full_outer")
    status = (
        F.when(F.col("old_price").isNull(), F.lit("added"))
        .when(F.col("new_price").isNull(), F.lit("removed"))
        .when(F.col("old_price") != F.col("new_price"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("status")
    )


O_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey AS key, o_totalprice AS old_price
  FROM orders WHERE o_orderkey % 10 <> 9),
new AS (
  SELECT o_orderkey AS key,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderkey % 10 <> 0)
SELECT CASE WHEN old_price IS NULL THEN 'added'
            WHEN new_price IS NULL THEN 'removed'
            WHEN old_price <> new_price THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM old FULL OUTER JOIN new USING (key)
GROUP BY 1
ORDER BY status
"""


SPECS = [
    QuerySpec("pricing_summary", q_pricing_summary, O_PRICING_SUMMARY, headline=True),
    QuerySpec("revenue_by_nation", q_revenue_by_nation, O_REVENUE_BY_NATION, headline=True),
    QuerySpec("top_orders_per_segment", q_top_orders_per_segment, O_TOP_ORDERS_PER_SEGMENT, headline=True),
    QuerySpec("order_priority_semijoin", q_order_priority, O_ORDER_PRIORITY),
    QuerySpec("sessionization", q_sessionization, O_SESSIONIZATION, headline=True),
    QuerySpec("hourly_event_rollup", q_hourly_rollup, O_HOURLY_ROLLUP),
    QuerySpec("rollup_revenue", q_rollup_revenue, O_ROLLUP_REVENUE),
    QuerySpec("set_ops_users", q_set_ops, O_SET_OPS),
    QuerySpec("distinct_users", q_distinct_users, O_DISTINCT_USERS),
    QuerySpec("event_type_pivot", q_event_pivot, O_EVENT_PIVOT),
    QuerySpec("top_parts_by_revenue", q_top_parts, O_TOP_PARTS),
    QuerySpec("asof_last_signup", q_asof_last_signup, O_ASOF_LAST_SIGNUP),
    QuerySpec("value_band_join", q_value_band_join, O_VALUE_BAND_JOIN),
    QuerySpec(
        "customers_without_orders",
        q_customers_without_orders,
        O_CUSTOMERS_WITHOUT_ORDERS,
    ),
    QuerySpec("cube_revenue", q_cube_revenue, O_CUBE_REVENUE),
    QuerySpec(
        "orders_above_cust_avg",
        q_orders_above_cust_avg,
        O_ORDERS_ABOVE_CUST_AVG,
    ),
    QuerySpec(
        "skewed_asset_rollup", q_skewed_asset_rollup, O_SKEWED_ASSET_ROLLUP
    ),
    QuerySpec("shipping_priority", q_shipping_priority, O_SHIPPING_PRIORITY),
    QuerySpec("forecast_revenue", q_forecast_revenue, O_FORECAST_REVENUE),
    QuerySpec("event_funnel", q_event_funnel, O_EVENT_FUNNEL),
    QuerySpec("top_suppliers", q_top_suppliers, O_TOP_SUPPLIERS),
    QuerySpec("returned_items", q_returned_items, O_RETURNED_ITEMS),
    QuerySpec(
        "priority_by_linestatus",
        q_priority_by_linestatus,
        O_PRIORITY_BY_LINESTATUS,
    ),
    QuerySpec("volume_shipping", q_volume_shipping, O_VOLUME_SHIPPING),
    QuerySpec("market_share", q_market_share, O_MARKET_SHARE),
    QuerySpec("product_profit", q_product_profit, O_PRODUCT_PROFIT),
    QuerySpec("important_parts", q_important_parts, O_IMPORTANT_PARTS),
    QuerySpec("custdist", q_custdist, O_CUSTDIST),
    QuerySpec("promo_revenue", q_promo_revenue, O_PROMO_REVENUE),
    QuerySpec(
        "small_qty_revenue", q_small_qty_revenue, O_SMALL_QTY_REVENUE
    ),
    QuerySpec("large_orders", q_large_orders, O_LARGE_ORDERS),
    QuerySpec(
        "disjunctive_filter", q_disjunctive_filter, O_DISJUNCTIVE_FILTER
    ),
    QuerySpec("sales_opportunity", q_sales_opportunity, O_SALES_OPPORTUNITY),
    QuerySpec("props_json_stats", q_props_json_stats, O_PROPS_JSON_STATS),
    QuerySpec("revenue_deciles", q_revenue_deciles, O_REVENUE_DECILES),
    QuerySpec("name_fuzzy_match", q_name_fuzzy_match, O_NAME_FUZZY_MATCH),
    QuerySpec(
        "grouping_sets_revenue",
        q_grouping_sets_revenue,
        O_GROUPING_SETS_REVENUE,
    ),
    QuerySpec("value_histogram", q_value_histogram, O_VALUE_HISTOGRAM),
    QuerySpec("retention_cohorts", q_retention_cohorts, O_RETENTION_COHORTS),
    QuerySpec(
        "latest_event_per_user",
        q_latest_event_per_user,
        O_LATEST_EVENT_PER_USER,
    ),
    QuerySpec(
        "waiting_suppliers", q_waiting_suppliers, O_WAITING_SUPPLIERS
    ),
    QuerySpec(
        "min_cost_supplier", q_min_cost_supplier, O_MIN_COST_SUPPLIER
    ),
    QuerySpec(
        "dominant_part_suppliers",
        q_dominant_part_suppliers,
        O_DOMINANT_PART_SUPPLIERS,
    ),
    QuerySpec(
        "salted_enrich_rollup",
        q_salted_enrich_rollup,
        O_SALTED_ENRICH_ROLLUP,
    ),
    QuerySpec("column_profile", q_column_profile, O_COLUMN_PROFILE),
    QuerySpec("snapshot_diff", q_snapshot_diff, O_SNAPSHOT_DIFF),
    QuerySpec(
        "weekday_hour_heatmap", q_weekday_hour_heatmap, O_WEEKDAY_HOUR_HEATMAP
    ),
    QuerySpec(
        "parts_supplier_counts",
        q_parts_supplier_counts,
        O_PARTS_SUPPLIER_COUNTS,
    ),
]
