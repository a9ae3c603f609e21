"""Relational queries over the TPC-H-shaped tables (SURVEY.md §2.4).

The full q1-q22 sweep, range and cube joins, explicit grouping sets and
range-frame windows, then the queries that restate the reference's own
operator semantics (SURVEY §2.2/§2.3) as oracle-checkable relational
plans.  Each section below opens with its design notes.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.functions.numeric import (
    cosine,
    exact_avg,
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
)
from event_streaming_spark.operators.dedup import dedup_keep_first, dedup_keep_latest
from event_streaming_spark.operators.joins import triangle_self_pair_join
from event_streaming_spark.plans.catalog import load, register

# ===========================================================================
# Relational core queries (SURVEY.md §2.4 surface) over the TPC-H-ish tables.
#
# The reference implements no relational algebra (its "queries" are keyed
# lookups / sorted scans — SURVEY §2.2); the driver's north star mandates the
# standard surface anyway.  Everything here is built-in DataFrame API: Catalyst
# gets predicate pushdown, column pruning, partial aggregation and join
# selection for free.
#
# Scale notes per query are inline: which side broadcasts, where the shuffle
# is, why the plan survives 100 TB.
# ===========================================================================

# ---------------------------------------------------------------------------
# q1: TPC-H Q1 pricing summary — full-scan hash aggregate.
# Scale: partial agg map-side → 4-group shuffle is O(partitions), trivial at
# any SF; the parquet scan prunes to 7 of 11 columns (ReadSchema) and pushes
# the shipdate filter down to row-group min/max.
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_exact_sum('l_quantity')} AS sum_qty,
       {sql_exact_sum('l_extendedprice')} AS sum_base_price,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_exact_avg('l_quantity')} AS avg_qty,
       {sql_exact_avg('l_extendedprice')} AS avg_price,
       {sql_exact_avg('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE, tags=("agg", "tpch"), bench=True)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3: shipping-priority style 3-way join + agg + top-N.
# Scale: customer filter prunes the build side; orders⋈lineitem is the big
# shuffle join on orderkey (co-partitioned by the groupBy that follows —
# one shuffle serves both); top-10 via sort-limit (TakeOrderedAndProject),
# never a full global sort.
# ---------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT l_orderkey,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority AS orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_ORACLE, tags=("join", "agg", "topk", "tpch"), bench=True)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q5: local-supplier volume — 5-way join through two broadcast dims.
# Scale: region/nation/supplier are tiny at every SF → broadcast; only
# orders⋈lineitem shuffles.  Join order written big-to-small; AQE re-plans
# if stats disagree.
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT n_name AS nation,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", _Q5_ORACLE, tags=("join", "agg", "tpch"), bench=True)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dim = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey"))
        .join(dim, li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(F.col("n_name").alias("nation"), "revenue")
    )


# ---------------------------------------------------------------------------
# q6: forecast revenue change — pure scan + filter + single scalar agg.
# Scale: no shuffle at all beyond the final 1-row reduce; every predicate
# pushes to parquet row-group stats.
# ---------------------------------------------------------------------------

_Q6_ORACLE = f"""
SELECT {sql_exact_sum('l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_ORACLE, tags=("scan", "agg", "tpch"), bench=True)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# top-k per group (window rank) — SURVEY §2.4 "ranking windows".
# Scale: single shuffle on the partition key; rank+filter prunes before the
# final projection, no global sort.
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT c_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


@register("window_topk_orders_per_customer", _TOPK_ORACLE, tags=("window", "topk"), bench=True)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# lag/lead analytics — days between consecutive orders per customer.
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS days_since_prev
FROM orders
"""


@register("window_lag_order_gap", _LAG_ORACLE, tags=("window",))
def window_lag_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(prev)).alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# running (cumulative) sum per key — frame-based window agg.
# Decimal accumulation keeps the running sum exact, so prefix sums are
# reproducible regardless of partitioning.
# ---------------------------------------------------------------------------

_RUNSUM_ORACLE = """
SELECT o_custkey, o_orderkey,
       round(cast(sum(cast(o_totalprice as decimal(30,6)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             as double), 2) AS running_spend
FROM orders
"""


@register("window_running_total", _RUNSUM_ORACLE, tags=("window",))
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(F.col("o_totalprice").cast("decimal(30,6)")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(run.cast("double"), 2).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# rollup / grouping sets — SURVEY §2.4.
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       grouping(l_returnflag) + grouping(l_linestatus) AS lvl,
       {sql_exact_sum('l_quantity')} AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("rollup_flag_status", _ROLLUP_ORACLE, tags=("agg", "rollup"))
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") + F.grouping("l_linestatus")).alias("lvl"),
            exact_sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "lvl",
            "sum_qty",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# join flavors: left / semi / anti (SURVEY O16 delete = anti-join,
# O17 point lookup = semi/broadcast probe).
# Scale: anti/semi on a broadcastable side never shuffles the big fact.
# ---------------------------------------------------------------------------

_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@register("join_anti_customers_without_orders", _ANTI_ORACLE, tags=("join",))
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_SEMI_ORACLE = """
SELECT p_partkey, p_name
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
"""


@register("join_semi_parts_with_bulk_orders", _SEMI_ORACLE, tags=("join",))
def join_semi_parts_with_bulk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    bulk = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return part.join(
        bulk, part.p_partkey == bulk.l_partkey, "left_semi"
    ).select("p_partkey", "p_name")


_LEFT_ORACLE = f"""
SELECT c_custkey, c_name,
       count(o_orderkey) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


@register("join_left_customer_order_stats", _LEFT_ORACLE, tags=("join", "agg"))
def join_left_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            exact_sum("o_totalprice").alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# set operations (SURVEY §2.4): union / intersect / except.
# ---------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH big_buyers AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 50000
), building AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
)
SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM big_buyers UNION SELECT k FROM building)
UNION ALL
SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM big_buyers INTERSECT SELECT k FROM building)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM big_buyers EXCEPT SELECT k FROM building)
"""


@register("setops_customer_cohorts", _SETOPS_ORACLE, tags=("setops",))
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 50000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    building = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("union", big.union(building).distinct())
        .unionAll(one("intersect", big.intersect(building)))
        .unionAll(one("except", big.exceptAll(building.intersect(big))))
    )


# ---------------------------------------------------------------------------
# distinct aggregates + exact percentile (SURVEY §2.4 approx row gets the
# exact variant here so the oracle can match bit-for-bit; the approximate
# sketch variant lives in a rows-only query).
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_partkey) AS n_parts,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_distinct_and_percentile", _DISTINCT_ORACLE, tags=("agg",))
def agg_distinct_and_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
    )


# approx sketch variant.  r1-r8 this used Spark's engine-native
# approx_count_distinct (HLL++ with engine-internal hashing — not
# replicable in any other engine, hence rows-only).  r9 (VERDICT r8 #3):
# rebuilt on the repo's md5-derived cross-engine HLL
# (operators/sketches.py), whose registers are bit-identical in Spark and
# DuckDB, so the approximate answer itself is now full value-hash-gated.
# The exact count rides along to exhibit the approximation error, exactly
# as sketch_hll_distinct_cross_engine does.  Same plan shape at scale:
# one (grp, bucket) map-side-combined shuffle, ≤ m registers per group.


def _approx_sketch_oracle() -> str:
    from event_streaming_spark.operators.sketches import sql_hll_estimate_by

    est = sql_hll_estimate_by("l_returnflag", "l_partkey", "lineitem")
    return f"""
WITH est AS ({est}),
cnt AS (
  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
         count(*) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT c.l_returnflag, e.hll_estimate AS approx_parts, c.exact_parts, c.n_rows
FROM cnt c JOIN est e ON e.grp = c.l_returnflag
ORDER BY l_returnflag
"""


@register(
    "agg_approx_distinct_sketch",
    _approx_sketch_oracle(),
    tags=("agg", "approx", "sketch"),
)
def agg_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.sketches import hll_estimate_by

    li = load(spark, sf_dir, "lineitem")
    est = hll_estimate_by(li, F.col("l_returnflag"), F.col("l_partkey"))
    cnt = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        cnt.join(est, "grp")
        .select(
            F.col("grp").alias("l_returnflag"),
            F.col("hll_estimate").alias("approx_parts"),
            "exact_parts",
            "n_rows",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# sorted emit with NULLS FIRST (SURVEY O18/O30 — do NOT replicate the
# reference's comparator NULL-asymmetry bug, src/events-agency.c:133).
# ---------------------------------------------------------------------------

_SORT_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderkey
LIMIT 100
"""


@register("sort_nulls_first_limit", _SORT_ORACLE, tags=("sort",))
def sort_nulls_first_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.asc_nulls_first("o_orderstatus"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# top-k per key, AGGREGATION formulation: collect per-key (price, id) pairs
# map-side, keep only the top-3 via slice(reverse(array_sort(...))) — no
# per-key row_number sort pass.  Same semantics as the window variant
# (same oracle); different physical plan: partial aggregation bounds the
# shuffled state to k entries per key per mapper, where the window variant
# shuffles EVERY row then sorts.  At 100 TB with bounded k this is the
# cheaper plan; the window variant wins when k is large or unbounded.
# ---------------------------------------------------------------------------


@register("window_topk_agg_variant", _TOPK_ORACLE, tags=("agg", "topk"))
def window_topk_agg_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # sort key: (-price, orderkey) ascending == (price desc, orderkey asc)
    pairs = F.collect_list(F.struct((-F.col("o_totalprice")).alias("np"), F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")))
    top3 = F.slice(F.array_sort(pairs), 1, 3)
    agged = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(top3.alias("top"))
    ex = agged.select("c_custkey", F.posexplode("top").alias("i", "s"))
    return ex.select(
        "c_custkey",
        F.col("s.k").alias("o_orderkey"),
        F.col("s.p").alias("o_totalprice"),
        (F.col("i") + 1).alias("rn"),
    )


# ===========================================================================
# Relational, range and cube: interval/range join, cube grouping sets,
# embedding near-dup blocking — remaining SURVEY §2.4/§2.5 rows.
# ===========================================================================

# ---------------------------------------------------------------------------
# Interval (range) join — SURVEY §2.4 "theta & range joins" / "as-of /
# interval join (events ↔ dimension validity)".  Orders are joined to
# OVERLAPPING promotion windows on o_orderdate ∈ [start, end) — not
# rewritable as an equi bucket join because windows overlap arbitrarily.
# Scale: the interval dimension is tiny (every realistic validity table
# is) → broadcast nested-loop with the range predicate; the fact side
# streams through one scan, no shuffle.  For two BIG range sides, the
# plan is bucket-by-coarse-granule + equi-join + residual filter
# (operators/joins.py shows the pattern).
# ---------------------------------------------------------------------------

_PROMOS = [
    # (promo_id, start, end): 120-day stride, 60..150-day lengths → overlaps
    (i, dt.date(1995, 1, 1) + dt.timedelta(days=120 * i),
     dt.date(1995, 1, 1) + dt.timedelta(days=120 * i + 60 + (i * 13) % 90))
    for i in range(20)
]

_PROMO_VALUES = ", ".join(f"({i}, DATE '{s}', DATE '{e}')" for i, s, e in _PROMOS)

_RANGE_ORACLE = f"""
WITH promos(promo_id, p_start, p_end) AS (VALUES {_PROMO_VALUES})
SELECT promo_id,
       count(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS promo_revenue
FROM orders JOIN promos
  ON o_orderdate >= p_start AND o_orderdate < p_end
GROUP BY promo_id
"""


@register("range_join_orders_in_promo_windows", _RANGE_ORACLE, tags=("join", "range"))
def range_join_orders_in_promo_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    promos = local_frame(spark, 
        [(i, s, e) for i, s, e in _PROMOS], "promo_id INT, p_start DATE, p_end DATE"
    )
    od = F.to_date("o_orderdate")
    return (
        orders.join(
            F.broadcast(promos), (od >= F.col("p_start")) & (od < F.col("p_end"))
        )
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("promo_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets with grouping_id (completes rollup from tranche 1).
# ---------------------------------------------------------------------------

_CUBE_ORACLE = f"""
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
       count(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("cube_status_priority", _CUBE_ORACLE, tags=("agg", "rollup"))
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "gid",
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (SURVEY §2.5 "embedding-cosine near-dup"):
# blocking key = label (the IVF-cell analogue), exact cosine within block.
# Scale: triangle-bucketed self-join shuffles on (label, bucket-cell) so
# a block's quadratic pair space is parallel work, not one straggler task;
# blocking key + bucket count are the scale knobs.  Cross-block recall
# comes from the LSH-ANN path (emb_lsh_ann_topk).
# ---------------------------------------------------------------------------

_EMB_NEARDUP_ORACLE = """
SELECT vec_a, vec_b, label, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos_sim >= 0.29
"""


@register("emb_cosine_near_dup_pairs", _EMB_NEARDUP_ORACLE, tags=("llm", "ann", "dedup"))
def emb_cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangle-bucketed self-join: a plain label-blocked self-join shuffles
    # on label alone (10 distinct values), so each label's quadratic pair
    # space is ONE task — measured >10 min on one core at a 10× corpus.
    # With B=8 buckets each label splits into 36 independent cells.
    emb = load(spark, sf_dir, "embeddings")
    pairs = triangle_self_pair_join(
        emb, id_col="vec_id", block_cols=["label"], n_buckets=8
    )
    return (
        pairs.select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cosine("a.embedding", "b.embedding"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.29)
    )


# ---------------------------------------------------------------------------
# Full outer join (completes the join-flavor matrix: inner/left/semi/anti
# are in tranche 1).  Customers vs event-active users: either side may be
# missing.
# ---------------------------------------------------------------------------

_FULL_ORACLE = """
SELECT coalesce(c.c_custkey, e.user_id) AS entity_id,
       c.c_name AS c_name,
       e.n_events AS n_events
FROM customer c
FULL OUTER JOIN (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
) e ON c.c_custkey = e.user_id
WHERE coalesce(c.c_custkey, e.user_id) < 300
"""


@register("join_full_outer_customers_events", _FULL_ORACLE, tags=("join",))
def join_full_outer_customers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    ev = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        cust.join(ev, cust.c_custkey == ev.user_id, "full_outer")
        .select(
            F.coalesce(cust.c_custkey, ev.user_id).alias("entity_id"),
            F.col("c_name"),
            F.col("n_events"),
        )
        .filter(F.coalesce(cust.c_custkey, ev.user_id) < 300)
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS / NOT EXISTS subqueries (decorrelated by Catalyst into
# semi/anti joins — written as SQL to exercise the SQL surface).
# ---------------------------------------------------------------------------

_EXISTS_ORACLE = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                    AND o.o_orderpriority = '1-URGENT')
"""


@register("subquery_exists_not_exists", _EXISTS_ORACLE, tags=("join", "subquery"))
def subquery_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_ORACLE.replace("NOT EXISTS", "NOT EXISTS"))


# ---------------------------------------------------------------------------
# q10-style: top returned-revenue customers (join + filtered agg + top-N).
# Scale: returnflag filter pushes to the lineitem scan; customer side
# broadcasts; TakeOrderedAndProject for the top-20.
# ---------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       n_name AS nation
FROM customer
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN orders   ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_item_customers", _Q10_ORACLE, tags=("join", "agg", "topk", "tpch"), bench=True)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    cdim = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", F.col("n_name").alias("nation"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q12-style: order-priority buckets by ship-mode-ish predicate (conditional
# counting over a join — map-side agg after one shuffle).
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT CAST(extract(year FROM l_shipdate) AS INT) AS ship_year,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1
"""


@register("q12_priority_by_ship_year", _Q12_ORACLE, tags=("join", "agg", "tpch"))
def q12_priority_by_ship_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q14-style: promo revenue share — ratio of conditional exact sums.
# ---------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT round(
         100.0 * ({sql_exact_sum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 6)})
               / ({sql_exact_sum('l_extendedprice * (1 - l_discount)', 6)}), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
"""


@register("q14_promo_revenue_share", _Q14_ORACLE, tags=("join", "agg", "tpch"))
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .agg(
            F.round(100.0 * exact_sum(promo, 6) / exact_sum(disc, 6), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


# ---------------------------------------------------------------------------
# Skew-safe two-stage (salted) aggregation under the correctness gate:
# identical results to a plain groupBy, by construction (exact integer
# partials compose associatively).  Oracle = the plain aggregation.
# ---------------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS total_value
FROM events
GROUP BY event_type
"""


@register("skew_salted_type_rollup", _SALTED_ORACLE, tags=("events", "agg", "skew"))
def skew_salted_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.skew import salted_agg

    ev = load(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "__scaled": (
                F.sum(F.round(F.col("value") * 1e6).cast("long")),
                F.sum("__scaled"),
            ),
        },
        n_salts=8,
    )
    return out.select(
        "event_type",
        "n_events",
        F.round(F.col("__scaled") / 1e6, 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q4-style: priority counts for orders with at least one late-shipped line
# (EXISTS decorrelated to a semi-join on orderkey).
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@register("q4_order_priority_late_ship", _Q4_ORACLE, tags=("join", "agg", "tpch"))
def q4_order_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# q7-style: shipping volume between two nations by year — the classic
# "two role-played dimension joins" shape (customer nation ≠ supplier
# nation), both dims broadcast.
# ---------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(extract(year FROM l_shipdate) AS INT) AS ship_year,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS volume
FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name IN ('NATION_1', 'NATION_2') AND sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name, ship_year
"""


@register("q7_nation_pair_volume", _Q7_ORACLE, tags=("join", "agg", "tpch"))
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    cdim = cust.join(
        F.broadcast(nation.filter(F.col("n_name").isin(pair))),
        cust.c_nationkey == nation.n_nationkey,
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    sdim = supp.join(
        F.broadcast(nation.filter(F.col("n_name").isin(pair))),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
    )


# ---------------------------------------------------------------------------
# q18-style: large-volume customers — aggregate HAVING filter, then join
# back to customers.  The HAVING side is tiny after the filter → broadcast.
# ---------------------------------------------------------------------------

_Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey,
       {sql_exact_sum('l_quantity')} AS total_qty
FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey
HAVING sum(l_quantity) > 120
"""


@register("q18_large_volume_orders", _Q18_ORACLE, tags=("join", "agg", "tpch"))
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey")
        .agg(
            exact_sum("l_quantity").alias("total_qty"),
            F.sum("l_quantity").alias("__raw_qty"),
        )
        .filter(F.col("__raw_qty") > 120)
        .drop("__raw_qty")
    )


# ---------------------------------------------------------------------------
# q19-style: disjunction of bracketed conjunctive predicates across a join
# — exercises CNF handling / partial pushdown of OR-trees.
# ---------------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 10 AND 40)
   OR (p_type = 'PROMO' AND l_quantity >= 45)
"""


@register("q19_disjunctive_predicates", _Q19_ORACLE, tags=("join", "scan", "tpch"))
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#17") & F.col("p_size").between(10, 40) & F.col("l_quantity").between(10, 40))
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 45))
    )
    return j.filter(cond).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# q22-style: scalar subquery (global average) as a filter + anti-join —
# customers with above-average balance and no orders.
# ---------------------------------------------------------------------------

_Q22_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS n_customers,
       {sql_exact_sum('c_acctbal')} AS total_bal
FROM customer
WHERE c_acctbal > (SELECT round(cast(sum(cast(round(c_acctbal * 1e6) as bigint)) as double)
                                / 1e6 / count(*), 6)
                   FROM customer WHERE c_acctbal > 0)
  AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) < 6
GROUP BY c_mktsegment
"""


@register("q22_above_avg_inactive_customers", _Q22_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q22_above_avg_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    # scalar subquery: deterministic global average via exact scaled sum
    avg_row = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 1e6).cast("long")) / 1e6 / F.count(F.lit(1)),
                6,
            ).alias("avg_bal")
        )
        .collect()[0]
    )
    threshold = float(avg_row["avg_bal"])  # tiny scalar → literal (never data-sized)
    # NOTE: per_cust is keyed on o_custkey — it grows with |customers|, so it
    # must NOT be broadcast (OOMs the build side at scale). Shuffle join on
    # the key and let AQE pick the physical strategy.
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        cust.filter(F.col("c_acctbal") > threshold)
        .join(per_cust, cust.c_custkey == F.col("o_custkey"), "left")
        .filter(F.coalesce(F.col("n_orders"), F.lit(0)) < 6)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q2-style: correlated min subquery — cheapest supplier per part, phrased
# Spark-first as a min-aggregate join back (the decorrelated plan Catalyst
# would produce anyway).
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_acctbal
FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE s.s_acctbal = (SELECT min(s2.s_acctbal)
                     FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
                     WHERE l2.l_partkey = p.p_partkey)
GROUP BY p.p_partkey, p.p_name, s.s_suppkey, s.s_acctbal
"""


@register("q2_min_cost_supplier_per_part", _Q2_ORACLE, tags=("join", "subquery", "tpch"))
def q2_min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    ps = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .select("l_partkey", "s_suppkey", "s_acctbal")
        .distinct()
    )
    mins = ps.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    a, m = ps.alias("a"), mins.alias("m")
    return (
        a.join(
            m,
            (F.col("a.l_partkey") == F.col("m.l_partkey"))
            & (F.col("a.s_acctbal") == F.col("m.min_bal")),
        )
        .join(part, F.col("a.l_partkey") == part.p_partkey)
        .select("p_partkey", "p_name", F.col("a.s_suppkey").alias("s_suppkey"),
                F.col("a.s_acctbal").alias("s_acctbal"))
        .distinct()
    )


# ===========================================================================
# Relational, TPC-H completion: the remaining TPC-H-shaped queries (q8, q9,
# q11, q13, q15, q16, q17, q20, q21 analogues) — completing the full
# 22-query sweep together with tranches 1/2.
#
# The driver testdata has no ``partsupp`` table and no
# ``l_commitdate``/``l_receiptdate`` columns, so the queries that need a
# part↔supplier bridge (q9/q11/q16/q20) derive it from ``lineitem`` (the
# precedent set by ``q2_min_cost_supplier_per_part``), and q21's "late"
# predicate is re-based on ``l_shipdate > o_orderdate + 90 days``.
#
# Scale notes are inline per query; the common discipline: dimensions
# (part/supplier/nation/region and anything post-HAVING-tiny) broadcast,
# the single big fact shuffle is on the join key Catalyst needs anyway,
# and every money aggregate uses exact fixed-point accumulation
# (functions/numeric.py) so results are bit-identical across engines,
# partitionings, and reruns.
# ===========================================================================

_DISC = "l_extendedprice * (1 - l_discount)"


def _disc() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# q8-style: national market share — the share of ASIA-region ECONOMY-part
# revenue supplied by NATION_1, per order year.  Ratio of two conditional
# exact sums inside one aggregation (single shuffle on o_orderkey; all
# four dimensions broadcast).
# ---------------------------------------------------------------------------

_Q8_ORACLE = f"""
SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       round({sql_exact_sum(f"CASE WHEN sn.n_name = 'NATION_1' THEN {_DISC} ELSE 0 END", 6)}
             / {sql_exact_sum(_DISC, 6)}, 6) AS mkt_share
FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  JOIN part     ON p_partkey = l_partkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_year
"""


@register("q8_national_market_share", _Q8_ORACLE, tags=("join", "agg", "tpch"), bench=True)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cdim = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    nat = F.when(F.col("supp_nation") == "NATION_1", _disc()).otherwise(F.lit(0.0))
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(cdim, orders.o_custkey == cdim.c_custkey)
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(exact_sum(nat, 6) / exact_sum(_disc(), 6), 6).alias("mkt_share"))
    )


# ---------------------------------------------------------------------------
# q9-style: product-type profit by supplier nation and year.  No
# ps_supplycost exists → cost is modeled as 10% of p_retailprice per unit.
# One fact shuffle (lineitem⋈orders on orderkey); part/supplier/nation
# broadcast.
# ---------------------------------------------------------------------------

_Q9_PROFIT = f"{_DISC} - 0.1 * p_retailprice * l_quantity"

_Q9_ORACLE = f"""
SELECT sn.n_name AS nation,
       CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       {sql_exact_sum(_Q9_PROFIT)} AS profit
FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN part     ON p_partkey = l_partkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY nation, o_year
"""


@register("q9_product_type_profit", _Q9_ORACLE, tags=("join", "agg", "tpch"), bench=True)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    profit = _disc() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == F.col("o_orderkey"))
        .join(sdim, li.l_suppkey == sdim.s_suppkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(exact_sum(profit).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q11-style: important stock — parts whose AMERICA-region supply value
# exceeds 0.1% of the total.  The partsupp value is derived from lineitem
# discounted revenue.  The global-total scalar is computed from the SAME
# per-part exact longs the HAVING compares against, so the threshold is
# bit-identical across engines (integer partials compose exactly).
# Scale: one shuffle on l_partkey; the scalar total is a second pass over
# the (small, post-agg) per-part result, never over the fact.
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
WITH base AS (
  SELECT l_partkey,
         sum(cast(round((l_extendedprice * (1 - l_discount)) * 1e6) as bigint)) AS v
  FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'AMERICA'
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey,
       round(cast(v as double) / 1e6, 2) AS part_value
FROM base
WHERE cast(v as double) > (SELECT cast(sum(v) as double) FROM base) * 0.001
"""


@register("q11_important_stock_value", _Q11_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q11_important_stock_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    base = (
        li.join(sdim, li.l_suppkey == sdim.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.round(_disc() * 1e6).cast("long")).alias("v"))
    )
    total = base.agg(F.sum("v").cast("double").alias("t"))  # tiny: one row
    return (
        base.join(F.broadcast(total))
        .filter(F.col("v").cast("double") > F.col("t") * 0.001)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("v").cast("double") / 1e6, 2).alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# q13-style: customer order-count distribution — LEFT join with an extra
# join-side predicate (kept in the ON clause, NOT the WHERE, so zero-order
# customers survive), then a two-level aggregation.  All-integer → no
# float determinism concerns.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@register("q13_customer_order_distribution", _Q13_ORACLE, tags=("join", "agg", "tpch"))
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q15-style: top supplier(s) by Q1-1996 revenue — the revenue CTE is
# computed once; its max is a one-row scalar; exact sums make the
# equality comparison safe (no float ties lost).
# ---------------------------------------------------------------------------

_Q15_REV = f"""
  SELECT l_suppkey AS supplier_no,
         {sql_exact_sum(_DISC)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
"""

_Q15_ORACLE = f"""
WITH revenue AS ({_Q15_REV})
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", _Q15_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(_disc()).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m")).collect()[0]["m"]
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.filter(F.col("total_revenue") == F.lit(max_rev))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# q16-style: supplier count per (brand, type, size) — NOT-IN rewritten as
# an anti-join against negative-balance suppliers (keys are non-null so
# the NULL-semantics trap doesn't bite), then COUNT(DISTINCT).  Scale:
# the distinct agg is a two-phase shuffle on the group key; the exclusion
# set broadcasts.
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register("q16_supplier_part_counts", _Q16_ORACLE, tags=("join", "agg", "tpch"))
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17-style: small-quantity-order revenue — the correlated per-part AVG
# subquery decorrelated into a grouped aggregate joined back (exactly the
# plan Catalyst produces for the SQL form).  The 0.2·avg threshold is
# derived from exact scaled-long sums so both engines compute the same
# double.  Scale: per-part stats computed only for the (tiny, broadcast)
# filtered part set.
# ---------------------------------------------------------------------------

_Q17_ORACLE = f"""
SELECT round(cast(sum(cast(round(l_extendedprice * 1e6) as bigint)) as double)
             / 1e6 / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_size < 10
  AND l_quantity < (
    SELECT 0.2 * (cast(sum(cast(round(l2.l_quantity * 1e6) as bigint)) as double)
                  / 1e6 / count(*))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@register("q17_small_quantity_revenue", _Q17_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    # restrict to relevant parts first: per-part stats over a tiny slice
    rel = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = rel.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            0.2
            * (
                F.sum(F.round(F.col("l_quantity") * 1e6).cast("long")) / 1e6
                / F.count(F.lit(1))
            )
        ).alias("qty_threshold")
    )
    return (
        rel.join(thresholds, rel.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 1e6).cast("long")) / 1e6 / 7.0, 2
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# q20-style: suppliers in EUROPE with significant 1996 shipments of red
# parts — the IN-subquery becomes a semi-join from a HAVING-filtered
# aggregate.  The HAVING compares exact scaled longs to an integer
# literal (40 units → 40_000_000 micro-units): no float boundary risk.
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'EUROPE' AND s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(cast(round(l_quantity * 1e6) as bigint)) > 40000000)
"""


@register("q20_promotion_part_suppliers", _Q20_ORACLE, tags=("join", "agg", "subquery", "tpch"))
def q20_promotion_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    qualifying = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 1e6).cast("long")).alias("qty_scaled"))
        .filter(F.col("qty_scaled") > 40_000_000)
        .select("l_suppkey")
        .distinct()
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return supp.join(qualifying, supp.s_suppkey == F.col("l_suppkey"), "left_semi")


# ---------------------------------------------------------------------------
# q21-style: suppliers who kept orders waiting.  Without
# l_receiptdate/l_commitdate, "late" = shipped >90 days after the order
# date.  The double-EXISTS shape (another supplier participated / no other
# supplier was late) is computed with one per-order distinct-count
# aggregate instead of two correlated scans — one pass over the fact, the
# per-order summary re-joined (both sides already partitioned on
# l_orderkey, so the second join reuses the shuffle).
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
),
po AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM j GROUP BY l_orderkey
),
guilty AS (
  SELECT DISTINCT j.l_orderkey, j.l_suppkey
  FROM j JOIN po ON j.l_orderkey = po.l_orderkey
  WHERE j.late AND po.n_supp > 1 AND po.n_late = 1
)
SELECT s_name, count(*) AS numwait
FROM guilty
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
GROUP BY s_name
"""


@register("q21_suppliers_kept_waiting", _Q21_ORACLE, tags=("join", "agg", "subquery", "tpch"), bench=True)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("late"),
    )
    po = j.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    guilty = (
        j.filter("late")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            po.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            F.col("l_orderkey") == F.col("po_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        guilty.join(sdim, guilty.l_suppkey == sdim.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ===========================================================================
# Relational, grouping sets and range frames: explicit GROUPING SETS (the one grouping
# flavor rollup/cube don't cover) and a RANGE-frame time window (the one
# window-frame flavor the ROWS-frame queries don't cover).
# ===========================================================================

# ---------------------------------------------------------------------------
# GROUPING SETS with disjoint sets (status-only, year-only, grand total) —
# not expressible as rollup/cube.  Written as SQL and executed verbatim on
# BOTH engines (the dialect subset here is identical), exercising the SQL
# front door.  Scale: Spark expands grouping sets into a single Expand +
# one hash agg — one shuffle total, not one per set.
# ---------------------------------------------------------------------------

_GSETS_SQL = f"""
WITH base AS (
  SELECT o_orderstatus, CAST(extract(year FROM o_orderdate) AS INT) AS o_year, o_totalprice
  FROM orders
)
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_year, -1) AS o_year,
       count(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS total_price
FROM base
GROUP BY GROUPING SETS ((o_orderstatus), (o_year), ())
"""


@register("grouping_sets_status_year", _GSETS_SQL, tags=("agg", "rollup", "sql"))
def grouping_sets_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GSETS_SQL)


# ---------------------------------------------------------------------------
# Trailing-7-day revenue via a RANGE frame over a day-number order key.
# The frame sums exact scaled longs, so the windowed sums are
# order-independent and bit-identical across engines.  Scale: the daily
# pre-aggregation shrinks the fact to one row per day BEFORE the window;
# a single-partition window over ~thousands of days is trivial (for
# per-key windows the partitionBy distributes — this one is global by
# construction).
# ---------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
WITH daily AS (
  SELECT cast(o_orderdate AS DATE) AS d,
         date_diff('day', DATE '1995-01-01', cast(o_orderdate AS DATE)) AS day_no,
         sum(cast(round(o_totalprice * 1e6) as bigint)) AS rev_scaled
  FROM orders GROUP BY 1, 2
)
SELECT d,
       round(cast(rev_scaled as double) / 1e6, 2) AS day_revenue,
       round(cast(sum(rev_scaled) OVER w as double) / 1e6, 2) AS trailing_7d_revenue,
       cast(count(*) OVER w AS INT) AS n_days_in_window
FROM daily
WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register("window_range_trailing_7d", _RANGE_FRAME_ORACLE, tags=("window", "agg"))
def window_range_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "day_no"
        ),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 1e6).cast("long")).alias("rev_scaled"))
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        "d",
        F.round(F.col("rev_scaled").cast("double") / 1e6, 2).alias("day_revenue"),
        F.round(F.sum("rev_scaled").over(w).cast("double") / 1e6, 2).alias(
            "trailing_7d_revenue"
        ),
        F.count(F.lit(1)).over(w).cast("int").alias("n_days_in_window"),
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: the 20 part pairs most often bought together,
# from the pair self-join WITHIN each order.  The per-basket join is
# bounded by basket size (TPC-H lineitem ≤ 7 rows per order), so the
# candidate volume is Σ C(|basket|, 2) = O(rows × max_basket) — linear
# in lineitem, never all-pairs across orders; the pair aggregate
# combines map-side.  distinct() first: an order can list the same part
# on two lineitems, which must not self-pair or double-count.
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_orders,
       row_number() OVER (ORDER BY count(*) DESC, part_a, part_b) AS rnk
FROM pairs GROUP BY part_a, part_b
ORDER BY rnk LIMIT 20
"""


@register(
    "parts_basket_affinity",
    _BASKET_ORACLE,
    tags=("tpch", "join", "affinity"),
)
def parts_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    counts = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    # global top-20: TakeOrdered via orderBy+limit (no full sort at scale)
    top = counts.orderBy(
        F.desc("n_orders"), "part_a", "part_b"
    ).limit(20)
    w = Window.orderBy(F.desc("n_orders"), "part_a", "part_b")
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).orderBy("rnk")


# ---------------------------------------------------------------------------
# Market-basket association rules (brand granularity): support, confidence
# and lift with exact DECIMAL ppm arithmetic.  parts_basket_affinity above
# stops at raw pair support; this is the full Agrawal-Srikant readout the
# merchandising side actually consumes.  Scale: lineitem⋈part is the only
# fact-sized join (brand dictionary pruned to 2 columns); the per-order
# brand sets are ≤ 7-item lists so the pair fanout is ≤ C(7,2)·|orders|;
# everything after the (brand_a, brand_b) count is a ≤ C(25,2)-row frame.
# DECIMAL(38,0) keeps N·n_ab·10⁶ exact far past int64 (sf ≥ 10⁴).
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 10
_MB_K = 20

_MB_ORACLE = f"""
WITH ob AS MATERIALIZED (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
  SELECT cast(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
), ba AS (
  SELECT p_brand, cast(count(*) AS BIGINT) AS n_b FROM ob GROUP BY p_brand
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         cast(count(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, n_ab AS support_orders,
       cast((2000000 * cast(n_ab AS HUGEINT) + xa.n_b)
            // (2 * cast(xa.n_b AS HUGEINT)) AS BIGINT) AS conf_a_to_b_ppm,
       cast((2000000 * cast(n.n_orders AS HUGEINT) * n_ab
              + xa.n_b * cast(xb.n_b AS HUGEINT))
            // (2 * cast(xa.n_b AS HUGEINT) * xb.n_b)
         AS BIGINT) AS lift_ppm
FROM pairs
JOIN ba xa ON xa.p_brand = brand_a
JOIN ba xb ON xb.p_brand = brand_b
CROSS JOIN n
WHERE n_ab >= {_MB_MIN_SUPPORT}
ORDER BY lift_ppm DESC, brand_a, brand_b
LIMIT {_MB_K}
"""


@register(
    "orders_market_basket_lift",
    _MB_ORACLE,
    tags=("tpch", "affinity", "stats"),
)
def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: top-k brand pairs by lift.

    Scale design: ONE fact-sized join (lineitem⋈part, columns pruned
    to the keys + brand) feeds a distinct (order, brand) frame; the
    pair self-join fans out ≤ C(7,2) per order on the co-partitioned
    order key; the rule statistics run on the ≤ C(|brands|,2)-row
    count frame with the brand totals broadcast.  All ppm arithmetic
    is DECIMAL(38,0) round-half-up integer division — exact on both
    engines at any scale.
    """
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = ob.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    ba = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .select(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    xa = ba.select(F.col("p_brand").alias("ba_brand"), F.col("n_b").alias("na"))
    xb = ba.select(F.col("p_brand").alias("bb_brand"), F.col("n_b").alias("nb"))
    conf = F.expr(
        "cast((2000000 * cast(n_ab as decimal(38,0)) + na)"
        " div (2 * cast(na as decimal(38,0))) as bigint)"
    )
    lift = F.expr(
        "cast((2000000 * cast(n_orders as decimal(38,0)) * n_ab"
        " + na * cast(nb as decimal(38,0)))"
        " div (2 * cast(na as decimal(38,0)) * nb) as bigint)"
    )
    return (
        pairs.where(F.col("n_ab") >= _MB_MIN_SUPPORT)
        .join(F.broadcast(xa), F.col("ba_brand") == F.col("brand_a"))
        .join(F.broadcast(xb), F.col("bb_brand") == F.col("brand_b"))
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").alias("support_orders"),
            conf.alias("conf_a_to_b_ppm"),
            lift.alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "brand_a", "brand_b")
        .limit(_MB_K)
    )


# ---------------------------------------------------------------------------
# Supplier concentration (Herfindahl-Hirschman index) per brand: the
# supply-chain risk readout — a brand whose spend concentrates in one
# supplier is one bankruptcy away from a stockout.  Exact arithmetic:
# per-(brand, supplier) spend in integer cents, HHI/top-share ppm via
# HUGEINT/DECIMAL round-half-up division (Σs² at 100 TB is DECIMAL
# territory).  Scale: ONE fact join (lineitem⋈part pruned to 3 cols),
# one (brand, supplier) aggregate, then brand-sized frames.
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH bs AS MATERIALIZED (
  SELECT p.p_brand, l.l_suppkey,
         cast(sum(cast(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand, l.l_suppkey
), b AS (
  SELECT p_brand,
         cast(count(*) AS BIGINT) AS n_suppliers,
         cast(sum(cents) AS BIGINT) AS total_cents,
         cast(sum(cast(cents AS HUGEINT) * cents) AS HUGEINT) AS sq,
         cast(max(cents) AS BIGINT) AS top_cents
  FROM bs GROUP BY p_brand
)
SELECT p_brand AS brand, n_suppliers, total_cents,
       cast((2000000 * sq + cast(total_cents AS HUGEINT) * total_cents)
            // (2 * cast(total_cents AS HUGEINT) * total_cents) AS BIGINT)
         AS hhi_ppm,
       cast((2000000 * cast(top_cents AS HUGEINT) + total_cents)
            // (2 * cast(total_cents AS HUGEINT)) AS BIGINT) AS top_share_ppm
FROM b
ORDER BY brand
"""


@register(
    "orders_supplier_hhi_by_brand",
    _HHI_ORACLE,
    tags=("tpch", "stats", "risk"),
)
def orders_supplier_hhi_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl supplier-concentration index per part brand.

    Scale design: lineitem⋈part is the only fact-sized stage (columns
    pruned to partkey/suppkey/price); spend reduces to integer cents
    per (brand, supplier) in one map-side-combined aggregate; the HHI
    arithmetic runs on brand-sized frames with DECIMAL(38,0) squares —
    exact on both engines at any volume.
    """
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bs = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    b = bs.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("sq"),
        F.max("cents").cast("long").alias("top_cents"),
    )
    hhi = F.expr(
        "cast((2000000 * sq + cast(total_cents as decimal(38,0)) * total_cents)"
        " div (2 * cast(total_cents as decimal(38,0)) * total_cents) as bigint)"
    )
    top = F.expr(
        "cast((2000000 * cast(top_cents as decimal(38,0)) + total_cents)"
        " div (2 * cast(total_cents as decimal(38,0))) as bigint)"
    )
    return b.select(
        F.col("p_brand").alias("brand"),
        "n_suppliers",
        "total_cents",
        hhi.alias("hhi_ppm"),
        top.alias("top_share_ppm"),
    ).orderBy("brand")


# ===========================================================================
# Queries porting the reference's own operator semantics (SURVEY §2.2/2.3).
#
# Each query is the oracle-checkable relational restatement of a concrete
# reference behavior, cited per query.  Fixtures: FIXTURES.md §B — synthesized
# here from the driver tables (deterministically) since only §A tables exist
# on disk.
# ===========================================================================

# ---------------------------------------------------------------------------
# O23 discard-first dedup policy (email-sender.c:122-124): first event per
# (user_id, event_type) by (ts, event_id).
# ---------------------------------------------------------------------------

_DEDUP_FIRST_ORACLE = """
SELECT user_id, event_type, event_id,
       epoch_ms(date_trunc('millisecond', ts)) AS ts_ms
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


@register("dedup_keep_first_event", _DEDUP_FIRST_ORACLE, tags=("dedup", "reference"))
def dedup_keep_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = dedup_keep_first(ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_millis(F.date_trunc("millisecond", F.col("ts"))).alias("ts_ms"),
    )


# ---------------------------------------------------------------------------
# O23 replace-with-latest policy + O27 keep-latest header map
# (email-sender.c:125-128, :208-212): latest value/props per key.
# ---------------------------------------------------------------------------

_DEDUP_LATEST_ORACLE = """
SELECT user_id, event_type, event_id, value,
       cast(json_extract_string(props, '$.k') as int) AS latest_k
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register("dedup_keep_latest_event", _DEDUP_LATEST_ORACLE, tags=("dedup", "reference"))
def dedup_keep_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = dedup_keep_latest(ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("latest_k"),
    )


# ---------------------------------------------------------------------------
# O41-O43: recipient-list folding — sorted collect per group, conditional
# routing, ", " separator (email-sender.c:414-434).  bcc-exclusion becomes
# the category filter.
# ---------------------------------------------------------------------------

_FOLD_ORACLE = """
SELECT n_nationkey AS nation_key,
       string_agg(c_name, ', ' ORDER BY c_custkey) FILTER (WHERE c_mktsegment <> 'MACHINERY') AS visible_list,
       string_agg(c_name, ', ' ORDER BY c_custkey) FILTER (WHERE c_mktsegment = 'MACHINERY') AS machinery_list,
       count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_nationkey
"""


@register("fold_concat_recipients", _FOLD_ORACLE, tags=("reference", "agg", "string"))
def fold_concat_recipients(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    def folded(pred) -> F.Column:
        pairs = F.array_sort(
            F.collect_list(F.when(pred, F.struct(F.col("c_custkey"), F.col("c_name"))))
        )
        return F.nullif(F.array_join(F.transform(pairs, lambda s: s.c_name), ", "), F.lit(""))

    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_nationkey").alias("nation_key"))
        .agg(
            folded(F.col("c_mktsegment") != "MACHINERY").alias("visible_list"),
            folded(F.col("c_mktsegment") == "MACHINERY").alias("machinery_list"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# O47 address parse + O46 enum dict: synthesize `name (comment) <email>`
# addresses, parse them back with regexp_extract (the reference declares the
# parsed-out fields but never implemented the parser — email-sender.h:66-77).
# ---------------------------------------------------------------------------

_ADDR_ORACLE = """
WITH addrs AS (
  SELECT c_custkey,
         c_name || ' (' || c_mktsegment || ') <cust' || c_custkey || '@example.com>' AS addr
  FROM customer
)
SELECT c_custkey, addr,
       regexp_extract(addr, '^(.*?) \\((.*)\\) <(.+)>$', 1) AS display_name,
       regexp_extract(addr, '^(.*?) \\((.*)\\) <(.+)>$', 2) AS comment,
       regexp_extract(addr, '^(.*?) \\((.*)\\) <(.+)>$', 3) AS email_addr
FROM addrs
"""


@register("scalar_address_parse", _ADDR_ORACLE, tags=("reference", "string", "regex"))
def scalar_address_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    addr = F.concat(
        F.col("c_name"),
        F.lit(" ("),
        F.col("c_mktsegment"),
        F.lit(") <cust"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com>"),
    )
    pat = r"^(.*?) \((.*)\) <(.+)>$"
    df = cust.withColumn("addr", addr)
    return df.select(
        "c_custkey",
        "addr",
        F.regexp_extract("addr", pat, 1).alias("display_name"),
        F.regexp_extract("addr", pat, 2).alias("comment"),
        F.regexp_extract("addr", pat, 3).alias("email_addr"),
    )


# ---------------------------------------------------------------------------
# O34 canned regex corpus + O33 capture groups: the reference's validation
# patterns (utils/regex.c:196-217) applied as rlike filters over synthesized
# and natural columns.
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT p_partkey, p_name, p_brand,
       regexp_matches(p_name, '^(red|blue|green) ') AS is_colored,
       regexp_matches(p_brand, '^Brand#[0-9]+$') AS brand_valid,
       cast(regexp_extract(p_brand, '^Brand#([0-9]+)$', 1) as int) AS brand_num,
       len(regexp_extract_all(p_name, '[a-z]+')) AS n_words
FROM part
WHERE regexp_matches(p_name, '(widget|gizmo|gadget)$')
"""


@register("regex_canned_patterns", _REGEX_ORACLE, tags=("reference", "regex"))
def regex_canned_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.filter(F.col("p_name").rlike(r"(widget|gizmo|gadget)$")).select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.col("p_name").rlike(r"^(red|blue|green) ").alias("is_colored"),
        F.col("p_brand").rlike(r"^Brand#[0-9]+$").alias("brand_valid"),
        F.regexp_extract("p_brand", r"^Brand#([0-9]+)$", 1).cast("int").alias("brand_num"),
        F.size(F.regexp_extract_all("p_name", F.lit(r"[a-z]+"), 0)).alias("n_words"),
    )


# ---------------------------------------------------------------------------
# O45 record serialization + O44 dot-stuffing escape + O36 RFC-2822-ish
# date: compose a full message payload per order (email-sender.c:387-495).
# ---------------------------------------------------------------------------

_SERIALIZE_ORACLE = """
SELECT o_orderkey,
       'Date: ' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || chr(13) || chr(10) ||
       'From: orders@example.com' || chr(13) || chr(10) ||
       'To: cust' || o_custkey || '@example.com' || chr(13) || chr(10) ||
       'Subject: order ' || o_orderkey || ' [' || o_orderpriority || ']' || chr(13) || chr(10) ||
       chr(13) || chr(10) ||
       replace('total: ' || cast(round(o_totalprice, 2) as varchar) || ' status ' || o_orderstatus,
               '.', '..') AS payload
FROM orders
WHERE o_orderkey % 100 = 0
"""


@register("serialize_order_payload", _SERIALIZE_ORACLE, tags=("reference", "string"))
def serialize_order_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    crlf = "\r\n"
    body = F.concat(
        F.lit("total: "),
        F.round(F.col("o_totalprice"), 2).cast("string"),
        F.lit(" status "),
        F.col("o_orderstatus"),
    )
    payload = F.concat(
        F.lit("Date: "),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit(crlf),
        F.lit("From: orders@example.com"),
        F.lit(crlf),
        F.lit("To: cust"),
        F.col("o_custkey").cast("string"),
        F.lit("@example.com"),
        F.lit(crlf),
        F.lit("Subject: order "),
        F.col("o_orderkey").cast("string"),
        F.lit(" ["),
        F.col("o_orderpriority"),
        F.lit("]"),
        F.lit(crlf),
        F.lit(crlf),
        F.replace(body, F.lit("."), F.lit("..")),
    )
    return orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", payload.alias("payload")
    )


# ---------------------------------------------------------------------------
# O40 trim + O22 KV pairs as map + O29 ordered foreach (sorted map emit):
# build a map per row, emit entries in key order.
# ---------------------------------------------------------------------------

_KVMAP_ORACLE = """
SELECT s_suppkey,
       trim('  ' || s_name || '  ') AS name_trimmed,
       ltrim('  ' || s_name) AS name_ltrimmed,
       rtrim(s_name || '  ') AS name_rtrimmed,
       'acctbal=' || cast(round(s_acctbal,2) as varchar) || ',nation=' || cast(s_nationkey as varchar)
         AS kv_sorted
FROM supplier
"""


@register("scalar_trim_and_kv_emit", _KVMAP_ORACLE, tags=("reference", "string"))
def scalar_trim_and_kv_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load(spark, sf_dir, "supplier")
    m = F.create_map(
        F.lit("nation"), F.col("s_nationkey").cast("string"),
        F.lit("acctbal"), F.round(F.col("s_acctbal"), 2).cast("string"),
    )
    entries = F.array_sort(F.map_entries(m))  # ordered foreach = sorted entry emit (O29)
    kv = F.array_join(F.transform(entries, lambda e: F.concat(e.key, F.lit("="), e.value)), ",")
    return supp.select(
        "s_suppkey",
        F.trim(F.concat(F.lit("  "), F.col("s_name"), F.lit("  "))).alias("name_trimmed"),
        F.ltrim(F.concat(F.lit("  "), F.col("s_name"))).alias("name_ltrimmed"),
        F.rtrim(F.concat(F.col("s_name"), F.lit("  "))).alias("name_rtrimmed"),
        kv.alias("kv_sorted"),
    )


# ---------------------------------------------------------------------------
# O49 uuid: deterministic uuid-shaped id derived from md5 (the reference
# mints random uuids for jti, tests/test-jwt.c:145-147; a deterministic
# variant keeps the oracle checkable — format 8-4-4-4-12 from the digest).
# ---------------------------------------------------------------------------

_UUID_ORACLE = """
SELECT o_orderkey,
       substr(md5('jti:' || o_orderkey), 1, 8) || '-' ||
       substr(md5('jti:' || o_orderkey), 9, 4) || '-' ||
       substr(md5('jti:' || o_orderkey), 13, 4) || '-' ||
       substr(md5('jti:' || o_orderkey), 17, 4) || '-' ||
       substr(md5('jti:' || o_orderkey), 21, 12) AS jti
FROM orders WHERE o_orderkey < 100
"""


@register("scalar_deterministic_uuid", _UUID_ORACLE, tags=("reference", "scalar"))
def scalar_deterministic_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    d = F.md5(F.concat(F.lit("jti:"), F.col("o_orderkey").cast("string")))
    jti = F.concat_ws(
        "-",
        F.substring(d, 1, 8),
        F.substring(d, 9, 4),
        F.substring(d, 13, 4),
        F.substring(d, 17, 4),
        F.substring(d, 21, 12),
    )
    return orders.select("o_orderkey", jti.alias("jti"))


# ---------------------------------------------------------------------------
# O19 resumable sorted iterator → keyset pagination (ORDER BY + LIMIT/OFFSET
# is the driver-friendly phrasing; at scale, keyset predicates beat OFFSET).
# ---------------------------------------------------------------------------

_PAGE_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey
LIMIT 20 OFFSET 40
"""


@register("sorted_iter_page3", _PAGE_ORACLE, tags=("reference", "sort"))
def sorted_iter_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
        .offset(40)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# O6/O17 point lookup on a composite key (tfind on (broker, topic) →
# filter on (user_id, event_type)).
# ---------------------------------------------------------------------------

_LOOKUP_ORACLE = """
SELECT event_id, user_id, event_type, value
FROM events
WHERE user_id = 42 AND event_type = 'purchase'
"""


@register("point_lookup_composite_key", _LOOKUP_ORACLE, tags=("reference", "scan"))
def point_lookup_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter((F.col("user_id") == 42) & (F.col("event_type") == "purchase")).select(
        "event_id", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# O48 varargs fan-in with duplicate counting: the reference's
# add_recipents(to, a1, a2, ..., NULL) loop counts how many inserts were
# duplicates (email-sender.c:315-334).  Relational form: explode a
# synthesized per-row address array (with deliberate dups), dedup per
# message, report kept vs duplicate counts.
# ---------------------------------------------------------------------------

_FANIN_ORACLE = """
WITH fanned AS (
  SELECT o_orderkey,
         unnest(['cust' || o_custkey || '@example.com',
                 'sales@example.com',
                 'cust' || o_custkey || '@example.com',   -- duplicate
                 'archive@example.com']) AS addr
  FROM orders WHERE o_orderkey < 200
)
SELECT o_orderkey,
       count(*) AS n_given,
       count(DISTINCT addr) AS n_kept,
       count(*) - count(DISTINCT addr) AS n_duplicates
FROM fanned
GROUP BY o_orderkey
"""


@register("varargs_fanin_dedup_count", _FANIN_ORACLE, tags=("reference", "dedup"))
def varargs_fanin_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    cust_addr = F.concat(F.lit("cust"), F.col("o_custkey").cast("string"), F.lit("@example.com"))
    fanned = orders.select(
        "o_orderkey",
        F.explode(
            F.array(cust_addr, F.lit("sales@example.com"), cust_addr, F.lit("archive@example.com"))
        ).alias("addr"),
    )
    return fanned.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_given"),
        F.countDistinct("addr").alias("n_kept"),
        (F.count(F.lit(1)) - F.countDistinct("addr")).alias("n_duplicates"),
    )
