"""Relational query surface (SURVEY.md §2.2-§2.8): projections, filters,
all join types, aggregations, windows, sorts, set ops, scalar functions.

Every query here is pure built-in DataFrame API — Catalyst gets the whole
plan (predicate pushdown, column pruning, broadcast selection, partial
aggregation, whole-stage codegen). Oracle SQL strings are ANSI SQL that
DuckDB executes on the same parquet; numeric aggregates follow the
decimal-exact convention in ``registry.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.asof import asof_join
from ..operators.topk import grouped_top_k
from .registry import query


def _dec(col: str, prec: int = 18, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _sum_money(col: str, alias: str):
    """Exact decimal sum surfaced as double (bit-identical across engines)."""
    return F.sum(_dec(col)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Flagship (M1): join + agg + top-k — S6, J1/J3, A2, O1/O2/O3
# ---------------------------------------------------------------------------


@query(
    "flagship",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 10
    """,
    tags=("S6", "J1", "J3", "A2", "O1", "O2"),
)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BUILDING-segment customers by discounted revenue.

    customer is broadcast (small dim); orders x lineitem is the only
    shuffle join; ORDER BY + LIMIT compiles to TakeOrderedAndProject
    (per-partition top-k, no global sort)."""
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A2/A6/F7: TPC-H Q1-shaped pricing summary
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("A2", "A6", "P5", "O1"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over lineitem (TPC-H Q1 shape): single scan with the
    shipdate predicate pushed to parquet, partial+final hash aggregation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            _sum_money("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(_dec("l_discount", 3, 2)).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Joins J1-J9
# ---------------------------------------------------------------------------


@query(
    "j1_inner_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("J1", "A2"),
)
def j1_inner_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders x customer, grouped revenue per segment."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), _sum_money("o_totalprice", "total_revenue"))
        .orderBy("c_mktsegment")
    )


@query(
    "j2_left_outer_order_counts",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("J2", "A2"),
)
def j2_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeps order-less customers with count 0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "j2_full_outer_nation_presence",
    oracle="""
    WITH cust AS (
        SELECT c_nationkey AS nk, COUNT(*) AS cust_cnt FROM customer GROUP BY 1
    ), supp AS (
        SELECT s_nationkey AS nk, COUNT(*) AS supp_cnt FROM supplier
        WHERE s_acctbal > 8000 GROUP BY 1
    )
    SELECT COALESCE(cust.nk, supp.nk) AS nationkey, cust.cust_cnt, supp.supp_cnt
    FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
    """,
    tags=("J2",),
)
def j2_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer counts vs (filtered) supplier
    counts; nulls where one side is absent."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("supp_cnt"))
    )
    return cust.join(supp, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"), "cust_cnt", "supp_cnt"
    )


@query(
    "j3_broadcast_nation_rollcall",
    oracle="""
    SELECT n.n_name, r.r_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY n_name
    """,
    tags=("J3", "A2"),
)
def j3_broadcast_nation_rollcall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two explicitly-broadcast dimension joins (nation, region are tiny —
    the 100 TB plan broadcasts them to every executor, zero shuffle for the
    join itself)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), _sum_money("c_acctbal", "total_acctbal"))
        .orderBy("n_name")
    )


@query(
    "j4_semi_customers_with_open_orders",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    GROUP BY c.c_nationkey
    """,
    tags=("J4",),
)
def j4_semi_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one open order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "j5_anti_customers_without_big_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("J5",),
    doc="Left-anti join — the Spark-native form of the reference's "
    "dedup-before-insert probe (weather_etl.py:158-187).",
)
def j5_anti_customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "j6_theta_nation_pairs",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    tags=("J6",),
)
def j6_theta_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (strict inequality on key): unordered same-region nation
    pairs. Equality conjunct keeps it a hash join; the inequality is a
    post-filter — Catalyst plans this, not us."""
    n = load_table(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))


@query(
    "j7_range_value_buckets",
    oracle="""
    SELECT b.bucket, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 50.0), ('high', 50.0, 1e18))
         AS b(bucket, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket
    ORDER BY bucket
    """,
    tags=("J7",),
)
def j7_range_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (interval containment) against a tiny broadcast bucket
    dim — at scale the small side is always broadcast so the range
    predicate is evaluated map-side with zero shuffle."""
    e = load_table(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 50.0), ("high", 50.0, 1e18)],
        "bucket string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(buckets), (e.value >= buckets.lo) & (e.value < buckets.hi))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), _sum_money("value", "total_value"))
        .orderBy("bucket")
    )


@query(
    "a5_grouping_sets_order_mix",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("A5",),
)
def a5_grouping_sets_order_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping form beside a5's rollup
    and cube): per-status totals, per-priority totals, and the grand
    total in one pass."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "a8_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("A2", "A6"),
)
def a8_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority spread across status columns.
    Explicit pivot values keep the output schema static (no extra
    distinct-scan job, and a stable contract at any scale)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


@query(
    "a9_unpivot_status_counts",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority,
             COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
             COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
             COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, 'F' AS status, n_f AS n FROM p
    UNION ALL SELECT o_orderpriority, 'O', n_o FROM p
    UNION ALL SELECT o_orderpriority, 'P', n_p FROM p
    """,
    tags=("A2", "U1"),
)
def a9_unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): the pivoted table melted back to long form —
    round-trips the a8 pivot."""
    wide = a8_pivot_status_by_priority(spark, sf_dir)
    return wide.selectExpr(
        "o_orderpriority",
        "stack(3, 'F', n_f, 'O', n_o, 'P', n_p) AS (status, n)",
    )


_INTERVALS = [(k, k * 7.5, k * 7.5 + 15.0) for k in range(13)]


@query(
    "j7_bucketed_interval_join",
    oracle=f"""
    SELECT i.interval_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN (VALUES {", ".join(f"({k}, {lo}, {hi})" for k, lo, hi in _INTERVALS)})
         AS i(interval_id, lo, hi)
      ON e.value >= i.lo AND e.value < i.hi
    GROUP BY i.interval_id
    """,
    tags=("J7",),
)
def j7_bucketed_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-x-big range join via bucket decomposition (operators/rangejoin):
    13 overlapping [k*7.5, k*7.5+15) intervals over event values, matched
    through a hash-shuffle equi-join on fixed-width buckets + exact refine
    — the oracle is the plain theta join, proving the rewrite exact."""
    from ..operators.rangejoin import bucketed_interval_join

    e = load_table(spark, sf_dir, "events")
    intervals = spark.createDataFrame(
        _INTERVALS, "interval_id int, lo double, hi double"
    )
    joined = bucketed_interval_join(
        e, intervals, point_col="value", lo_col="lo", hi_col="hi", bucket_width=7.5
    )
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"), _sum_money("value", "total_value")
    )


@query(
    "j16_interval_overlap_join",
    oracle="""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS c_s, epoch_us(ts) + 1800000000 AS c_e
      FROM events WHERE event_type = 'click'),
    x AS (
      SELECT user_id, epoch_us(ts) AS x_s, epoch_us(ts) + 1800000000 AS x_e
      FROM events WHERE event_type = 'error')
    SELECT c.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(least(c_e, x_e) - greatest(c_s, x_s)) AS BIGINT)
               AS total_overlap_us
    FROM c JOIN x ON c.user_id = x.user_id
                 AND c_s < x_e AND x_s < c_e
    GROUP BY c.user_id
    """,
    tags=("J16", "J7"),
)
def j16_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (operators/rangejoin.
    interval_overlap_join): per user, how many click activity windows
    ([ts, ts+30min)) overlapped an error window, and the total overlap
    time. Both sides are large (fact x fact) — the scalable shape
    replicates each interval to its fixed-width time buckets, equi-joins
    on (user, bucket), and claims each overlapping pair exactly once in
    the bucket of the later start (guaranteed inside both spans), so
    there is no nested-loop join and no post-join dedup shuffle. The
    oracle is the plain theta join, proving the decomposition exact."""
    from ..operators.rangejoin import interval_overlap_join

    half_hour_us = 1_800_000_000
    e = load_table(spark, sf_dir, "events")
    base = e.select("user_id", "event_type", F.unix_micros("ts").alias("s"))
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("s").alias("c_s"),
        (F.col("s") + half_hour_us).alias("c_e"),
    )
    errors = base.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("s").alias("x_s"),
        (F.col("s") + half_hour_us).alias("x_e"),
    )
    pairs = interval_overlap_join(
        clicks, errors, ["user_id"], "c_s", "c_e", "x_s", "x_e",
        bucket_width=half_hour_us,
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.least("c_e", "x_e") - F.greatest("c_s", "x_s")
        ).cast("long").alias("total_overlap_us"),
    )


_REV = "CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))"


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("J1", "J3", "A2", "O1", "O2"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: revenue of not-yet-shipped BUILDING orders as of a
    date; both date filters push to the scans, customer broadcasts."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("J1", "J3", "A2"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 1996 revenue per ASIA nation where customer and
    supplier share the nation — a 6-table join with three broadcast dims
    and the local-supplier equality folded into the supplier join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    tags=("J1", "J3", "A2", "O1", "O2"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned items
    in 1996Q4."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "a11_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 5.0) AS BIGINT) AS bucket, count(*) AS n
    FROM events GROUP BY 1
    """,
    tags=("A2",),
)
def a11_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (profiling primitive): one
    map-side bucket expression + hash aggregation."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("value") / 5.0).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "a12_mode_event_type_per_user",
    oracle="""
    SELECT user_id, event_type AS mode_type, n FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type ASC) AS rn
      FROM events GROUP BY user_id, event_type)
    WHERE rn = 1
    """,
    tags=("A2", "W1", "O4"),
)
def a12_mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent event type) per user: count-aggregate then a
    deterministic argmax window (ties to the alphabetically first type)."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@query(
    "a10_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5)  AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("A2",),
)
def a10_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (sort-based `percentile`, not the
    approximate sketch): both engines use the same (n-1)*p linear
    interpolation, and integer quantities interpolate exactly in double,
    so even this float output hash-matches."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.5).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "scd2_customer_segment",
    oracle="""
    WITH dim0 AS (
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to,
             TRUE AS is_current
      FROM customer),
    changes AS (
      SELECT o_custkey AS c_custkey, 'WHALE' AS c_mktsegment,
             min(o_orderdate) AS change_ts
      FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey),
    closed AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             ch.change_ts AS valid_to, FALSE AS is_current
      FROM dim0 d JOIN changes ch ON d.c_custkey = ch.c_custkey),
    opened AS (
      SELECT c_custkey, c_mktsegment, change_ts AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
      FROM changes),
    untouched AS (
      SELECT d.* FROM dim0 d ANTI JOIN changes ch ON d.c_custkey = ch.c_custkey)
    SELECT * FROM untouched
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM opened
    """,
    tags=("J5", "U1", "A2"),
)
def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension update (operators/scd2): customers gaining a >400k
    order become segment 'WHALE' versioned at their first such order date
    — old version closed, new opened, unaffected rows untouched. The
    MERGE-less emulation the guide's CDC/SCD2 pattern describes; every
    change here is a genuine attribute change (segment never = 'WHALE'
    initially), so the oracle skips the no-op filter."""
    from ..operators.scd2 import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim0 = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = (
        orders.filter(F.col("o_totalprice") > 400000)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.min("o_orderdate").alias("change_ts"))
        .withColumn("c_mktsegment", F.lit("WHALE"))
    )
    return scd2_apply(
        dim0,
        changes,
        key="c_custkey",
        tracked=["c_mktsegment"],
        ts_col="change_ts",
    )


@query(
    "j8_asof_error_after_click",
    oracle="""
    SELECT e.event_id, c.event_id AS click_id_matched
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    tags=("J8",),
)
def j8_asof_error_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the most recent prior (or
    simultaneous) click by the same user. Custom operator — see
    operators/asof.py for the single-shuffle formulation."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click").withColumnRenamed("event_id", "click_id")
    return asof_join(
        errors,
        clicks,
        on="ts",
        by="user_id",
        right_payload=["click_id"],
        suffix="_matched",
    ).select("event_id", F.col("click_id_matched"))


@query(
    "j9_cross_region_segment_grid",
    oracle="""
    SELECT r.r_name, s.seg AS c_mktsegment
    FROM region r CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
    """,
    tags=("J9", "A3"),
)
def j9_cross_region_segment_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two small deduplicated sides (the only sane cross join
    at scale is small x small, or small broadcast x big)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    segs = load_table(spark, sf_dir, "customer").select(F.col("c_mktsegment")).distinct()
    return r.crossJoin(segs)


# ---------------------------------------------------------------------------
# Aggregations A1-A7
# ---------------------------------------------------------------------------


@query(
    "a1_count_with_predicate",
    oracle="SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > 45",
    tags=("A1", "P5"),
    doc="COUNT(*) existence-probe shape (reference weather_etl.py:158-166).",
)
def a1_count_with_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).agg(F.count(F.lit(1)).alias("n"))


@query(
    "a3_distinct_status_priority",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tags=("A3",),
)
def a3_distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "a4_approx_count_distinct",
    oracle=None,  # HLL++ sketch values are engine-specific -> rows-only check;
    # the exactness property is pytest-verified against the true count.
    tags=("A4",),
)
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct partkeys (HLL++); sketch-based so no value
    oracle, but must be within 5% of exact (tests/test_plan_shapes.py::
    test_approx_count_distinct_error_bound)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))


@query(
    "a5_rollup_lineitem_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A5",),
)
def a5_rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum(_dec("l_quantity")).cast("double").alias("sum_qty")
    )


@query(
    "a5_cube_order_grid",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("A5",),
)
def a5_cube_order_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a6_filtered_aggregate",
    oracle="""
    SELECT c_nationkey,
           CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_debt,
           COUNT(*) AS n_total
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("A6", "F8"),
)
def a6_filtered_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)).alias("n_rich"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("n_debt"),
        F.count(F.lit(1)).alias("n_total"),
    )


@query(
    "a7_collect_statuses",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("A7", "F10"),
)
def a7_collect_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + sort_array, serialized to a string so the value hash is
    representation-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Windows W1-W3
# ---------------------------------------------------------------------------


@query(
    "w1_top3_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) t WHERE rn <= 3
    """,
    tags=("W1", "O3"),
)
def w1_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via the topk operator (row_number window + filter)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    return grouped_top_k(
        joined,
        partition_by=["c_mktsegment"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    ).select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")


@query(
    "w2_lag_value_delta",
    oracle="""
    SELECT event_id, user_id, value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
    tags=("W2",),
)
def w2_lag_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: per-user delta between consecutive event values
    (identical double subtraction both engines — no rounding needed)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", "value", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )


@query(
    "w3_moving_avg_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mov_avg
    FROM events
    """,
    tags=("W3",),
)
def w3_moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec moving average (4-row trailing window), decimal-exact."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return e.select(
        "event_id",
        "user_id",
        (F.sum(_dec("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("mov_avg"),
    )


@query(
    "w3_range_frame_hourly_load",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS n_last_hour
    FROM events
    """,
    tags=("W3",),
)
def w3_range_frame_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame (vs w3's ROWS frame): events per user in
    the trailing hour — the frame is defined by the timestamp value, so
    ties and gaps behave correctly where a row-count frame would not."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


@query(
    "p7_decorrelated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) > (
      SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey)
    """,
    tags=("P5", "A2", "J1"),
)
def p7_decorrelated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance), written as SQL so Catalyst's decorrelation rewrites it into
    the aggregate + join — the optimizer path hand-written joins skip.
    The threshold average runs in DECIMAL (summation-order-proof) per the
    registry's money convention."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_acctbal
        FROM customer_v c
        WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) > (
          SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer_v c2
          WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


# ---------------------------------------------------------------------------
# Sorts / limits O1-O4
# ---------------------------------------------------------------------------


@query(
    "o1_top20_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    tags=("O1", "O2"),
)
def o1_top20_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: compiles to TakeOrderedAndProject — no full sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "o4_max_by_customer_per_nation",
    oracle="""
    SELECT n_name, c_name AS top_customer, top_acctbal FROM (
        SELECT n.n_name, c.c_name, c.c_acctbal AS top_acctbal,
               ROW_NUMBER() OVER (PARTITION BY n.n_name
                                  ORDER BY c.c_acctbal DESC, c.c_custkey DESC) AS rn
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) t WHERE rn = 1
    """,
    tags=("O4", "W1"),
)
def o4_max_by_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by semantics with a deterministic tie-break: max over a struct
    whose field order (acctbal, custkey) is a total order — a single
    hash-agg, cheaper than a window when only the argmax row is needed."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    best = F.max(F.struct(F.col("c_acctbal"), F.col("c_custkey"), F.col("c_name"))).alias("b")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(best)
        .select("n_name", F.col("b.c_name").alias("top_customer"), F.col("b.c_acctbal").alias("top_acctbal"))
    )


# ---------------------------------------------------------------------------
# Set ops U1-U3
# ---------------------------------------------------------------------------


@query(
    "u1_union_active_parties",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    tags=("U1",),
)
def u1_union_active_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of nationkeys with rich customers or suppliers."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct()


@query(
    "u2_intersect_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("U2",),
)
def u2_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o_cust = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f_cust.intersect(o_cust)


@query(
    "u3_except_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("U3",),
)
def u3_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    all_cust = o.select(F.col("o_custkey").alias("custkey"))
    f_cust = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return all_cust.subtract(f_cust)  # EXCEPT (distinct semantics)


# ---------------------------------------------------------------------------
# Predicates P3/P5/P6
# ---------------------------------------------------------------------------


@query(
    "p3_equality_conjunction",
    oracle="""
    SELECT event_id, ts, value FROM events
    WHERE event_type = 'click' AND user_id = 7
    """,
    tags=("P3",),
    doc="Equality-conjunction filter — the reference's dedup probe predicate "
    "shape (weather_etl.py:158-165).",
)
def p3_equality_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.filter((F.col("event_type") == "click") & (F.col("user_id") == 7)).select(
        "event_id", "ts", "value"
    )


@query(
    "p5_predicate_suite",
    oracle="""
    SELECT p_partkey, p_name, p_size FROM part
    WHERE p_size BETWEEN 10 AND 20
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_name LIKE '%a%'
      AND p_retailprice >= 500
    """,
    tags=("P5",),
)
def p5_predicate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 20)
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_name").like("%a%")
        & (F.col("p_retailprice") >= 500)
    ).select("p_partkey", "p_name", "p_size")


@query(
    "p6_pruned_projection",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
    tags=("P6",),
)
def p6_pruned_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column read of an 11-column table: ReadSchema in the physical
    plan must show only l_returnflag + l_shipdate (pruning verified in
    tests/test_plan_shapes.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a13_salted_skew_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n_items, count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("A2",),
)
def a13_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation demonstration (operators/salt.py, SURVEY §3.3):
    ``l_returnflag`` has ~3 distinct values over the whole of lineitem —
    the canonical hot-key aggregate where one reducer would receive a
    third of 100 TB. The salted two-phase plan aggregates per
    (flag, salt-of-orderkey) first — each hot group spreads across 16
    reducers — then merges partials per flag. Salting is result-invariant
    (sum of sums, sum of counts; distinct orderkeys stay exact because the
    salt derives FROM l_orderkey, so one orderkey never splits across
    salts), which is why a plain GROUP BY oracle checks it. Plan shape
    (two HashAggregate exchanges, `_salt` in the first grouping) is
    asserted in tests/test_plan_shapes.py."""
    from ..operators.salt import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        salt_cols=["l_orderkey"],
        partial_aggs=[
            # exact decimal partials: float sums are order-dependent, and a
            # salted plan REORDERS the summation by construction
            F.sum(_dec("l_quantity")).alias("p_qty"),
            F.count(F.lit(1)).alias("p_n"),
            F.countDistinct("l_orderkey").alias("p_ord"),
        ],
        final_aggs=lambda: [
            F.sum("p_qty").cast("double").alias("sum_qty"),
            F.sum("p_n").alias("n_items"),
            F.sum("p_ord").alias("n_orders"),
        ],
    )


# Derived-statistic formulas shared VERBATIM by the Spark side (selectExpr)
# and the DuckDB oracle: both engines parse the same text into the same
# IEEE-754 double expression tree over exact BIGINT sufficient statistics,
# so divisions and sqrts round identically — float outputs that are
# bit-exact by construction (registry.py determinism rules).
_STATS_D = "CAST(n AS DOUBLE)"
_STATS_FORMULAS: dict[str, str] = {
    "var_x": (
        f"({_STATS_D}*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
        f" / ({_STATS_D}*CAST(n - 1 AS DOUBLE))"
    ),
    "cov_xy": (
        f"({_STATS_D}*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
        f" / ({_STATS_D}*CAST(n - 1 AS DOUBLE))"
    ),
    "corr_xy": (
        f"({_STATS_D}*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
        f" / (sqrt({_STATS_D}*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
        f"    * sqrt({_STATS_D}*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))"
    ),
}


@query(
    "a14_stats_suite",
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity) AS BIGINT) AS x,
             CAST(floor(l_extendedprice) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(sum(x*y) AS BIGINT) AS sxy
      FROM q GROUP BY l_returnflag)
    SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
           {_STATS_FORMULAS["var_x"]} AS var_x,
           {_STATS_FORMULAS["cov_xy"]} AS cov_xy,
           {_STATS_FORMULAS["corr_xy"]} AS corr_xy
    FROM s
    """,
    tags=("A2",),
)
def a14_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (variance, covariance, correlation) via
    exact BIGINT sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) — the
    map-side-combinable formulation that scales: one partial-aggregating
    shuffle carries six longs per group, and the float math happens once
    per GROUP on the driver-visible result, not per row. The derived
    doubles are computed from the IDENTICAL expression text in both
    engines (``_STATS_FORMULAS``), making the float outputs bit-exact —
    the declared-float exception that proves the determinism rule.
    Built-ins (stddev/corr) use Welford-style streaming updates whose
    rounding differs between engines, which is exactly why this query
    doesn't use them."""
    li = load_table(spark, sf_dir, "lineitem")
    s = (
        li.select(
            "l_returnflag",
            F.floor("l_quantity").alias("x"),
            F.floor("l_extendedprice").alias("y"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    return s.selectExpr(
        "l_returnflag", "n", "sx", "sy", "sxx", "syy", "sxy",
        f'{_STATS_FORMULAS["var_x"]} AS var_x',
        f'{_STATS_FORMULAS["cov_xy"]} AS cov_xy',
        f'{_STATS_FORMULAS["corr_xy"]} AS corr_xy',
    )


@query(
    "j10_fuzzy_blocked_join",
    oracle="""
    WITH p0 AS (
      SELECT p_partkey, p_name, p_size, string_split(p_name, ' ')[1] AS blk
      FROM part),
    keep AS (
      SELECT blk, p_size FROM p0
      GROUP BY blk, p_size HAVING count(*) <= 50),
    p AS (
      SELECT p0.* FROM p0 JOIN keep
        ON p0.blk = keep.blk AND p0.p_size = keep.p_size)
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("J1", "F6"),
)
def j10_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution join: near-identical part names via edit distance,
    made tractable by BLOCKING — the equi-join on (first token, size)
    bounds each block to ~dozens of rows, so the quadratic levenshtein
    work runs inside blocks instead of all-pairs (the same
    candidate-then-verify shape as the LSH dedup family, with a blocking
    key instead of a hash bucket — operators/dedup.fuzzy_blocked_pairs).
    levenshtein is classic edit distance in both engines —
    exact-oracle-able. Per-block pair volume is quadratic and block sizes
    grow linearly with data, so the DECLARED query carries the
    ``max_block_size=50`` hot-block cap (semantics: blocks hotter than
    the cap are too generic to signal identity and are dropped — exactly
    mirrored in the oracle's HAVING, the twin of the ngram-Jaccard
    ``max_shingle_df``). At sf0.01 no natural block exceeds 50 (max 14);
    at sf0.1 the cap is live (max natural block 73)."""
    from ..operators.dedup import fuzzy_blocked_pairs

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size",
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    return fuzzy_blocked_pairs(
        p, "p_partkey", "p_name", ["blk", "p_size"], max_distance=2,
        max_block_size=50,
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=f"""
    WITH s AS (
      SELECT
        CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(28,4))
            AS promo_rev_d,
        CAST(SUM({_REV}) AS DECIMAL(28,4)) AS total_rev_d
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
        AND l.l_shipdate <  TIMESTAMP '1997-10-01')
    SELECT CAST(promo_rev_d AS DOUBLE) AS promo_rev,
           CAST(total_rev_d AS DOUBLE) AS total_rev,
           CAST(promo_rev_d AS DOUBLE) / CAST(total_rev_d AS DOUBLE)
               AS promo_ratio
    FROM s
    """,
    tags=("J1", "J3", "A6"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share for one ship month — a
    conditional aggregate over a fact-dimension join (part broadcasts,
    both predicates push to the lineitem scan). Revenue sums are exact
    DECIMAL internally; every DECLARED column is the sanctioned
    bit-exact-DOUBLE pattern (identical cast/division text over identical
    decimals in both engines) — raw DECIMAL outputs hash unreliably in
    the driver's canonicalization (r4 lesson: the only three red rows all
    emitted raw DECIMAL columns; every DOUBLE/BIGINT money query passed)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    s = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("decimal(28,4)")
            .alias("promo_rev_d"),
            F.sum(rev).cast("decimal(28,4)").alias("total_rev_d"),
        )
    )
    return s.selectExpr(
        "CAST(promo_rev_d AS DOUBLE) AS promo_rev",
        "CAST(total_rev_d AS DOUBLE) AS total_rev",
        "CAST(promo_rev_d AS DOUBLE) / CAST(total_rev_d AS DOUBLE)"
        " AS promo_ratio",
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(floor(l_quantity) AS BIGINT)) > 250)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o   ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("A2", "J1", "P5"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): HAVING over a grouped
    fact aggregate, then joins back to orders/customer. The aggregate runs
    FIRST and shrinks the fact side to the few qualifying orderkeys, so
    the two joins are cheap — the right order at any scale (the naive
    join-then-aggregate plan would shuffle all of lineitem twice).
    Quantities are integral by construction, so sum_qty is an exact
    BIGINT (the q17-proven pattern) and o_totalprice passes through as
    the raw parquet DOUBLE — no DECIMAL in declared output (r4 driver
    hash lesson, see tpch_q14 docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    """,
    tags=("J4", "A1", "P5"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted to this schema's columns: late shipment =
    shipped >30 days after order date): EXISTS decorrelates to a left-semi
    join with the inequality folded into the join condition, then a small
    aggregate — count of at-risk orders per priority for one quarter."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH l AS (
      SELECT li.l_orderkey, li.l_suppkey,
             li.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
      WHERE o.o_orderstatus = 'F')
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM l l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    tags=("J4", "J5", "A2", "O1"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept everyone waiting), adapted to
    this schema's columns: a late line is one shipped >60 days after its
    order date (no commit/receipt dates in the testdata — same adaptation
    Q4 uses). The classic EXISTS + NOT EXISTS pair on the SAME fact
    decorrelates to a left-SEMI join (some other supplier contributed to
    the order) plus a left-ANTI join (no other supplier was late on it),
    both plain equi-joins on l_orderkey with the supplier inequality as a
    join-condition filter — hash/merge joins, never a nested loop
    (plan-asserted). The per-order line set is computed once and reused
    by both subquery sides; supplier broadcasts for the name lookup.
    ORDER BY numwait DESC, s_name LIMIT 100 compiles to
    TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ).alias("late"),
    )
    l1 = lines.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    l2 = lines.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'P'
      GROUP BY c.c_custkey)
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("J2", "A2", "A1"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): the LEFT
    OUTER join that must KEEP zero-order customers (count(o_orderkey)
    counts non-null matches only, so they land in the c_count=0 bin —
    an inner join would silently drop the most interesting bucket), with
    a join-condition filter standing in for the comment exclusion (this
    schema has no o_comment; pending-status orders are excluded
    instead). Two aggregations: per-customer count, then the tiny
    distribution over counts."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "P"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH s AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2))
                 AS tot,
             CAST(count(*) AS BIGINT) AS cnt
      FROM customer WHERE c_acctbal > 0),
    eligible AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer c, s
      WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * s.cnt > s.tot
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1998-01-01'))
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
           CAST(CAST(sum(bal) AS DECIMAL(28,2)) AS DOUBLE) AS totacctbal
    FROM eligible e JOIN nation n ON n.n_nationkey = e.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("J5", "J3", "A2", "P5"),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (rich customers who never ordered), grouped by
    nation (this schema has no phone country code), with dormancy = no
    order since 1998 (every above-average customer in this corpus has
    SOME order, which would make the classic no-orders-ever predicate
    vacuous — 0 rows proves nothing). Two classic decorrelations in one
    query: the scalar AVG subquery becomes a broadcast (sum, count)
    pair with the threshold rewritten EXACTLY-in-integers as
    ``bal * cnt > tot`` (avg division would be engine-specific
    decimal/double semantics — multiplying through by the count keeps
    both engines in exact decimal arithmetic), and NOT EXISTS becomes a
    left-anti join against the date-filtered orders fact (the filter
    pushes to the orders scan before the anti join). Nation broadcasts
    for the name."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", _dec("c_acctbal").alias("bal")
    )
    stats = (
        cust.filter(F.col("bal") > 0)
        .agg(
            F.sum("bal").cast("decimal(28,2)").alias("tot"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1998-01-01")
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    eligible = (
        cust.crossJoin(F.broadcast(stats))
        .filter(F.col("bal") * F.col("cnt") > F.col("tot"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        eligible.join(F.broadcast(n), eligible.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("bal").cast("decimal(28,2)").cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    WITH v AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             {_REV} AS rev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01')
    SELECT supp_nation, cust_nation, l_year,
           CAST(CAST(sum(rev) AS DECIMAL(28,4)) AS DOUBLE) AS revenue
    FROM v GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("J1", "J3", "A2", "F5"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral shipping volume between two nations by
    year): the classic snowflake join — fact lineitem joins orders then
    BOTH dimension arms (supplier→nation, customer→nation) with the
    either-direction nation-pair predicate applied after both arms
    resolve. All four dimension tables broadcast (supplier/customer are
    modest, nation tiny); the only shuffles left are the two fact-side
    joins' and the final small aggregate's. Exact decimal revenue."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
             "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    v = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            rev.alias("rev"),
        )
    )
    return (
        v.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum("rev").cast("decimal(28,4)").cast("double").alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "a15_approx_percentiles",
    oracle=None,  # sketch-based: Greenwald-Khanna estimates have no SQL
    #               twin — rows-only by design; the error contract vs the
    #               exact percentiles (a10) is pytest-gated like A4's HLL.
    tags=("A4",),
)
def a15_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's Greenwald-Khanna sketch
    (``approx_percentile`` with accuracy 10000): the single-pass,
    mergeable, bounded-memory path for quantiles over 100 TB — the exact
    sort-based a10 twin costs a full shuffle of the column. Error vs a10
    is pytest-gated (tests/test_plan_shapes.py). Declared output renders
    the estimate array as CSV — the driver's rows-only canonicalizer
    cannot hash list-typed columns (scalar-only declared-output
    invariant)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.expr(
                    "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("approx_p_csv"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@query(
    "a16_incremental_rollup",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_vfloor
    FROM events
    GROUP BY user_id, date_trunc('day', ts)
    """,
    tags=("A2", "S8"),
)
def a16_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance (operators/rollup.py):
    the events table replays in FIVE batches (event_id % 5), each applied
    as rollup := merge(rollup, partial(batch)) against a persisted sink —
    the additive-aggregate maintenance path whose cost is |rollup|+|batch|
    per step, never the base table. The one-shot GROUP BY oracle checks
    merge associativity exactly: a wrong partial, a lost batch, or a
    double-applied key hash-fails."""
    from ..operators.rollup import maintain_rollup

    e = load_table(spark, sf_dir, "events")
    from ..io import scratch_dir

    sink = os.path.join(scratch_dir("rollup_"), "daily")
    out = None
    for b in range(5):
        out = maintain_rollup(spark, sink, e.filter(F.col("event_id") % 5 == b))
    return out


@query(
    "a17_sketch_rollup",
    oracle=None,  # the maintained column is a DataSketches HLL sketch —
    #               estimates have no SQL twin, rows-only by design; the
    #               gates are pytest (tests/test_rollup_sketch.py):
    #               incremental must equal one-shot EXACTLY (HLL union is
    #               register-max, set-deterministic) and the estimate must
    #               sit within 5% of the exact per-day distinct count.
    tags=("A4", "A2", "S8"),
)
def a17_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based incremental rollup (operators/rollup.py
    ``maintain_sketch_rollup``): the metric people actually maintain
    incrementally — DISTINCT USERS PER DAY — does not survive a16's
    additive merge, so the maintained column is a mergeable HLL sketch;
    five replayed batches union sketches per day and the final estimate
    is read with ``hll_sketch_estimate``. Cost per batch is still
    ∝ |touched days| + |batch|; the base table is never re-read."""
    from ..io import scratch_dir
    from ..operators.rollup import maintain_sketch_rollup

    e = load_table(spark, sf_dir, "events")
    sink = os.path.join(scratch_dir("sketch_rollup_"), "daily")
    out = None
    for b in range(5):
        out = maintain_sketch_rollup(
            spark, sink, e.filter(F.col("event_id") % 5 == b)
        )
    return out.select(
        "day",
        "n_events",
        F.hll_sketch_estimate(F.col("users_hll")).cast("long").alias("approx_users"),
    ).orderBy("day")


@query(
    "w5_distribution_windows",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY CAST(c_acctbal AS DECIMAL(18,2)), c_custkey)
    """,
    tags=("W1", "W10"),
)
def w5_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per segment over account balance. The float outputs are the sanctioned
    bit-exact pattern: both engines compute (rank-1)/(n-1) and rank/n on
    identical integers with one IEEE division. The window order carries a
    custkey tiebreak so ranks are a total order — without it the quartile
    boundary rows would be engine-dependent."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").cast("decimal(18,2)"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "j11_salted_skew_join",
    oracle="""
    SELECT n.n_name, o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, o.o_orderpriority
    """,
    tags=("J1", "A2"),
)
def j11_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew JOIN (operators/salt.py salted_join — a13's sibling for
    the join side): orders enriched with nation via customer, where the
    second join key (c_nationkey, ~25 values over all customers) is the
    canonical hot key. The fact side scatters across 16 salt buckets
    derived from its own row key and the small dimension replicates
    16-fold, so each hot nation's rows land on 16 reducers. Salting is
    join-result-invariant for inner joins (every (row, dim) match pairs in
    exactly one salt bucket since the salt derives FROM the fact row), so
    the plain-join oracle checks it exactly. At THIS size the dim would
    broadcast anyway — the query pins the salted shuffle formulation as
    the regression surface for when the 'dimension' is 100 GB of metadata
    and broadcasting stops being an option."""
    from ..operators.salt import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderpriority", F.col("c_nationkey").alias("nk")
    )
    joined = salted_join(
        enriched,
        n.withColumnRenamed("n_nationkey", "nk"),
        keys=["nk"],
        salt_cols=["o_orderkey"],
    )
    return joined.groupBy("n_name", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@query(
    "a18_heavy_hitters",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT 20
    """,
    tags=("A2", "O3"),
)
def a18_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 users by event count via the two-pass heavy-hitters
    operator (operators/heavyhitters.py): per-partition Misra-Gries
    candidate generation in one Arrow-batched mapInPandas (≤C keys leave
    each partition regardless of key cardinality), then an exact recount
    of the broadcast candidate set. The plain GROUP BY oracle checks it
    exactly — the operator raises rather than answer if the k-th count
    can't be certified above the N/(C+1) survival bound, so a green hash
    here means the certificate held. At THIS cardinality a direct groupBy
    would be fine; the two-pass shape is what survives a 100 TB fact with
    billions of distinct keys, where shuffling every distinct key is the
    bottleneck and only O(partitions x C) candidate rows may move.
    Construction is eager (two tiny certification jobs run when the plan
    is built — same bounded-driver contract as knn_multiquery).

    Capacity dial (sf1 lesson): the certificate needs kth_count >
    N/(C+1), and on this uniform-ish events table the k-th count grows
    ~linearly with N while N/(C+1) does too — so a FIXED capacity that
    certifies at one scale certifies at every scale ONLY if it starts
    with headroom. 4096 certified sf0.1 by 3.7x but refused sf1; 65536
    certifies sf1 by 6x and costs only ≤C map-side dict entries per
    partition (a few MB). On a genuinely heavy-tailed corpus the k-th
    count grows FASTER than N/(C+1) and the dial relaxes; uniform keys
    are the worst case, exactly as Misra-Gries theory says."""
    from ..operators.heavyhitters import heavy_hitters

    e = load_table(spark, sf_dir, "events").select("user_id")
    return heavy_hitters(e, "user_id", k=20, capacity=65536).select(
        "user_id", F.col("n").cast("long").alias("n_events")
    )


@query(
    "a23_countmin_estimates",
    oracle="""
    WITH rws AS (SELECT unnest(generate_series(0, 3)) AS rw),
    sk AS (
      SELECT rw,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|'
                                      || CAST(rw AS VARCHAR)), 1, 8))
                  AS BIGINT) % 256 AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events, rws
      GROUP BY rw, bucket),
    ex AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
      FROM events GROUP BY user_id
      ORDER BY n_exact DESC, user_id LIMIT 20),
    pr AS (
      SELECT ex.user_id, rw,
             CAST(('0x' || substr(md5(CAST(ex.user_id AS VARCHAR) || '|'
                                      || CAST(rw AS VARCHAR)), 1, 8))
                  AS BIGINT) % 256 AS bucket
      FROM ex, rws),
    est AS (
      SELECT pr.user_id, CAST(min(s.c) AS BIGINT) AS n_est
      FROM pr JOIN sk s ON s.rw = pr.rw AND s.bucket = pr.bucket
      GROUP BY pr.user_id)
    SELECT ex.user_id, ex.n_exact, est.n_est
    FROM ex JOIN est ON est.user_id = ex.user_id
    """,
    tags=("A4", "A2", "F12"),
)
def a23_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build + point queries
    (operators/heavyhitters.countmin_sketch/-_estimate): a 4×256 CMS of
    the event feed's user column, probed for the exact top-20 users —
    output pairs each exact count with its sketch estimate (``n_est ≥
    n_exact`` always; equality when the user's 4 buckets are
    collision-free). Unlike a18's exact two-pass and a22's engine
    sketch, the CMS is built from md5-derived hashes, so its entire cell
    table is DETERMINISTIC and the oracle restates sketch + estimates
    exactly — the driver hash certifies the sketch algebra end to end.
    Scale: the build is one map-side ×depth explode into a
    map-side-combinable groupBy that emits ≤ depth×width rows from any
    input size; partial sketches merge by cell addition (that IS the
    shuffle combine), and estimation broadcasts the tiny cell table."""
    from ..operators.heavyhitters import countmin_estimate, countmin_sketch

    e = load_table(spark, sf_dir, "events").select("user_id")
    sk = countmin_sketch(e, "user_id", depth=4, width=256)
    ex = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(20)
    )
    est = countmin_estimate(sk, ex.select("user_id"), "user_id", depth=4, width=256)
    return ex.join(est, "user_id").select("user_id", "n_exact", "n_est")


@query(
    "cdc1_snapshot_diff",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7),
    new_snap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
                 AS o_orderstatus,
             o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 5),
    o AS (
      SELECT o_orderkey,
             md5(concat_ws('|', coalesce(CAST(o_orderstatus AS VARCHAR), ' null'),
                                coalesce(CAST(o_orderpriority AS VARCHAR), ' null'))) AS fp,
             1 AS in_old
      FROM old_snap),
    n AS (
      SELECT o_orderkey,
             md5(concat_ws('|', coalesce(CAST(o_orderstatus AS VARCHAR), ' null'),
                                coalesce(CAST(o_orderpriority AS VARCHAR), ' null'))) AS fp,
             1 AS in_new
      FROM new_snap)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.in_old IS NULL THEN 'insert'
                WHEN n.in_new IS NULL THEN 'delete'
                WHEN o.fp <> n.fp THEN 'update' END AS change_type
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE (o.in_old IS NULL) OR (n.in_new IS NULL) OR (o.fp <> n.fp)
    """,
    tags=("J2", "F12"),
)
def cdc1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC by snapshot differencing (operators/cdc.py): two
    deterministic synthetic snapshots of orders (keys mod-10/mod-13
    partition into old-only = deletes and new-only = inserts; every third
    key's status flips to 'X' = updates), diffed with ONE full-outer
    shuffle on the key and a codegen md5 fingerprint comparison of the
    tracked columns. Fingerprints are compared only within an engine, so
    the declared output (key + change_type) is rendering-independent and
    the oracle hash is exact. At 100 TB: write both snapshots bucketed on
    the key (S12) and the same diff runs with zero Exchange; the tracked
    payload never travels past the project that hashes it."""
    from ..operators.cdc import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old_snap = orders.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    new_snap = (
        orders.filter(F.col("o_orderkey") % 13 != 5)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    )
    return snapshot_diff(
        old_snap,
        new_snap,
        keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_orderpriority"],
    )


@query(
    "o5_pareto_frontier",
    oracle="""
    WITH x AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             epoch_us(o_orderdate) AS du
      FROM orders),
    m AS (
      SELECT *,
             max(o_totalprice) OVER (ORDER BY du RANGE BETWEEN UNBOUNDED
                                     PRECEDING AND 1 PRECEDING) AS mb,
             max(o_totalprice) OVER (PARTITION BY du) AS ms
      FROM x)
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM m
    WHERE (mb IS NULL OR mb < o_totalprice) AND ms <= o_totalprice
    """,
    tags=("O1", "W3"),
)
def o5_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: orders Pareto-optimal in (earliest date, highest
    total) — every order whose total strictly beats everything that came
    before it (operators/skyline.py). The operator computes the global
    prefix-max WITHOUT a global window: a month-bucketed two-level scan
    (tiny bucket table gets the cross-bucket running max; the fact gets
    only a bucket-partitioned window plus one broadcast join), the
    distributed prefix-scan shape that replaces the textbook
    single-partition sort at 100 TB. The oracle states the naive
    single-window dominance rule — identical answer, single-node
    formulation. All comparisons are selections on unmodified doubles, so
    the hash is exact."""
    from ..operators.skyline import skyline_2d

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return skyline_2d(o, "o_orderdate", "o_totalprice")


@query(
    "p8_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
    """,
    tags=("P7", "O3", "J1"),
)
def p8_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (top-2 customers per nation by
    balance) — the SQL-standard spelling of grouped top-k. Catalyst
    decorrelates the LATERAL into a DomainJoin and rewrites the
    per-invocation LIMIT as a rank window over the join — the optimizer
    path a hand-written window query (w1) skips. One shuffle on the
    correlation key at any scale; identical SQL runs on both engines."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation_v n, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer_v
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        """
    )


@query(
    "p9_recursive_month_spine",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '2001-08-01'),
    agg AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1)
    SELECT months.m, COALESCE(agg.n_orders, 0) AS n_orders,
           COALESCE(agg.revenue, 0.0) AS revenue
    FROM months LEFT JOIN agg ON agg.m = months.m
    """,
    tags=("P5", "A2", "F5"),
)
def p9_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4's WITH RECURSIVE): a gap-free monthly
    calendar spine generated by recursion, left-joined to monthly order
    aggregates so empty months surface as explicit zero rows — the
    classic reporting-spine shape, with revenue through the DECIMAL money
    convention. The spine bounds are fixed literals covering the testdata
    generator's date range (TESTDATA.md), so the recursion depth is
    static (~80 iterations over one-row frames — driver-side cost only,
    nothing scales with the fact table; the monthly aggregate is the one
    shuffle). Identical SQL runs on both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '2001-08-01'),
        agg AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          FROM orders_v GROUP BY 1)
        SELECT months.m, COALESCE(agg.n_orders, 0L) AS n_orders,
               COALESCE(agg.revenue, 0.0D) AS revenue
        FROM months LEFT JOIN agg ON agg.m = months.m
        """
    )


@query(
    "j12_temporal_dim_join",
    oracle="""
    WITH dim0 AS (
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer),
    changes AS (
      SELECT o_custkey AS c_custkey, 'WHALE' AS c_mktsegment,
             min(o_orderdate) AS change_ts
      FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey),
    closed AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             ch.change_ts AS valid_to
      FROM dim0 d JOIN changes ch ON d.c_custkey = ch.c_custkey),
    opened AS (
      SELECT c_custkey, c_mktsegment, change_ts AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM changes),
    untouched AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to
      FROM dim0 d ANTI JOIN changes ch ON d.c_custkey = ch.c_custkey),
    dim AS (
      SELECT * FROM untouched
      UNION ALL SELECT * FROM closed
      UNION ALL SELECT * FROM opened)
    SELECT dim.c_mktsegment AS segment_at_order,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders o
    JOIN dim ON dim.c_custkey = o.o_custkey
            AND o.o_orderdate >= dim.valid_from
            AND (dim.valid_to IS NULL OR o.o_orderdate < dim.valid_to)
    GROUP BY dim.c_mktsegment
    """,
    tags=("J7", "J8", "A2"),
)
def j12_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join: every order is priced
    against the SCD2 customer-segment version that was VALID AT the order
    date — the half-open [valid_from, valid_to) tiling guarantees exactly
    one version matches per order, so orders placed before a customer's
    'WHALE' promotion keep the historical segment. This is the consumer
    side of the scd2_customer_segment dimension (same build, same
    operators/scd2.py) — together they are the full slowly-changing-
    dimension lifecycle.

    Scale shape: the join is keyed on c_custkey equality (hash join, one
    shuffle — or zero against a bucketed dim); the temporal predicate is
    a residual filter on the matched pairs, never a range-scan
    explosion. The revenue aggregate rides the DECIMAL money convention."""
    from ..operators.scd2 import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim0 = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = (
        orders.filter(F.col("o_totalprice") > 400000)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.min("o_orderdate").alias("change_ts"))
        .withColumn("c_mktsegment", F.lit("WHALE"))
    )
    dim = scd2_apply(
        dim0, changes, key="c_custkey", tracked=["c_mktsegment"], ts_col="change_ts"
    ).select("c_custkey", "c_mktsegment", "valid_from", "valid_to")
    od = F.col("o_orderdate").cast("timestamp")
    joined = orders.join(
        dim,
        (dim["c_custkey"] == orders["o_custkey"])
        & (od >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (od < dim["valid_to"])),
    )
    return joined.groupBy(dim["c_mktsegment"].alias("segment_at_order")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


@query(
    "a21_incremental_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("A16", "J1", "A2"),
)
def a21_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/ivm.py — the join
    sibling of a16's rollup IVM): orders arrive in three delta batches
    and customers in two, each maintenance step applying the exact delta
    algebra ΔM = ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS against parquet-backed
    accumulators — the materialized join is NEVER recomputed from its
    base tables. The replayed view must aggregate identically to the
    one-shot JOIN the oracle runs; every delta join is keyed (co-located
    against bucketed accumulators at scale), cost ∝ |Δ|, not |R|+|S|."""
    from ..io import scratch_dir
    from ..operators.ivm import JoinView

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    view = JoinView(spark, scratch_dir("ivm_join"), on="c_custkey")
    r_batches = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    s_batches = [customer.filter(F.col("c_custkey") % 2 == i) for i in range(2)]
    empty_s = customer.limit(0)
    schedule = [
        (r_batches[0], s_batches[0]),
        (r_batches[1], s_batches[1]),
        (r_batches[2], empty_s),  # late facts against a settled dimension
    ]
    for delta_r, delta_s in schedule:
        view.apply_batch(delta_r, delta_s)
    return view.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


@query(
    "w6_value_streaks",
    oracle="""
    WITH f AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(value) OVER w IS NULL
                       OR value <= lag(value) OVER w
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
      SELECT user_id,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM f),
    runs AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS run_len
      FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY user_id
    """,
    tags=("W2", "W1", "A2"),
)
def w6_value_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: the longest run of strictly-increasing values
    per user (and how many runs the series breaks into) — the classic
    streak/island decomposition via break-flag + running sum, the
    value-domain twin of ts1's time-gap sessionizer. All three window
    passes and both aggregates share ONE Exchange on user_id (Catalyst
    reuses the sort); at 100 TB this is per-entity ordered state, the
    same shape as sessionization."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("value").over(w)
    brk = F.when(prev.isNull() | (F.col("value") <= prev), 1).otherwise(0)
    isl = e.withColumn("island", F.sum(brk).over(run).cast("long"))
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
    )


@query(
    "cdc2_apply_changelog",
    oracle="""
    WITH changed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 3 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 5 IN (3, 4)),
    survivors AS (
      SELECT o.o_orderkey, o.o_orderstatus
      FROM orders o ANTI JOIN changed c ON c.o_orderkey = o.o_orderkey),
    upserts AS (
      SELECT o.o_orderkey, 'X' AS o_orderstatus
      FROM orders o JOIN changed c ON c.o_orderkey = o.o_orderkey
      WHERE c.op = 'U'),
    applied AS (
      SELECT * FROM survivors UNION ALL SELECT * FROM upserts)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
    FROM applied GROUP BY o_orderstatus
    """,
    tags=("J5", "U1", "A2"),
)
def cdc2_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog APPLY (operators/cdc.py apply_changelog — the
    inverse of cdc1's snapshot diff, completing the batch-CDC cycle): a
    synthetic change feed deletes every key ≡3 (mod 10) and re-statuses
    every other key ≡3,4 (mod 5) to 'X'; replaying it over the orders
    snapshot must produce exactly the oracle's CASE-based final state.
    One anti join + union — bucketed-base => shuffle-free at scale."""
    from ..operators.cdc import apply_changelog

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    ch = (
        o.filter((F.col("o_orderkey") % 5).isin(3, 4))
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 3, "D").otherwise("U").alias("op"),
            F.lit("X").alias("o_orderstatus"),
        )
    )
    applied = apply_changelog(o, ch, keys=["o_orderkey"])
    return applied.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


@query(
    "p10_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT user_id % 20 AS uk,
             NULLIF(CAST(floor(value * 10) AS BIGINT) % 5, 0) AS bkt
      FROM events WHERE event_id % 2 = 0),
    b AS (
      SELECT user_id % 20 AS uk,
             NULLIF(CAST(floor(value * 10) AS BIGINT) % 5, 0) AS bkt
      FROM events WHERE event_id % 2 = 1)
    SELECT a.bkt,
           CAST(count(*) AS BIGINT) AS n_matches
    FROM a JOIN b
      ON a.uk = b.uk AND a.bkt IS NOT DISTINCT FROM b.bkt
    GROUP BY a.bkt
    """,
    tags=("P4", "J1"),
)
def p10_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM): two event
    halves join on a derived bucket where NULL must match NULL — the
    semantics a plain = join silently drops (NULL = NULL is NULL, and
    whole partitions of data vanish when a feed has nullable keys).
    Spark plans <=> as a regular hash join (the null bucket hashes like
    any value — it does NOT degrade to BNL).

    Scale shape (sf1 lesson — this was the worst scaler in the suite at
    62× normalized for 10× data): the key space is only uk(20) ×
    bkt(5), so the raw join OUTPUT is quadratic in the feed — counting
    matched pairs through a materialized many-to-many join is O(N²) no
    matter how well it hash-partitions. The engine side therefore does
    the eager-aggregation rewrite Catalyst doesn't: pre-aggregate each
    side to per-key counts (two linear map-side-combinable scans), then
    null-safe-join the ~100-row aggregates and multiply —
    Σ n_a(k)·n_b(k) per bucket ≡ the pair count, with NULL handled by
    the same <=> key. The oracle keeps the textbook join-then-count;
    the hash match certifies the rewrite."""
    e = load_table(spark, sf_dir, "events")
    bkt = F.nullif((F.floor(F.col("value") * 10).cast("long") % 5), F.lit(0))
    a = e.filter(F.col("event_id") % 2 == 0).select(
        (F.col("user_id") % 20).alias("uk"), bkt.alias("bkt")
    )
    b = e.filter(F.col("event_id") % 2 == 1).select(
        (F.col("user_id") % 20).alias("uk_b"), bkt.alias("bkt_b")
    )
    ga = a.groupBy("uk", "bkt").agg(F.count(F.lit(1)).alias("na"))
    gb = b.groupBy("uk_b", "bkt_b").agg(F.count(F.lit(1)).alias("nb"))
    j = ga.join(
        gb, (F.col("uk") == F.col("uk_b")) & F.col("bkt").eqNullSafe(F.col("bkt_b"))
    )
    return j.groupBy("bkt").agg(
        F.sum(F.col("na") * F.col("nb")).cast("long").alias("n_matches")
    )


@query(
    "w7_ratio_to_report",
    oracle="""
    WITH n AS (
      SELECT n.n_name, r.r_name,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
                 AS nation_rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY n.n_name, r.r_name)
    SELECT n_name, r_name,
           CAST(nation_rev AS DOUBLE) AS nation_rev,
           CAST(nation_rev AS DOUBLE)
               / CAST(sum(nation_rev) OVER (PARTITION BY r_name) AS DOUBLE)
               AS region_share
    FROM n
    """,
    tags=("W3", "A2", "J3"),
)
def w7_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's revenue via a
    windowed sum over the aggregated rows — the percent-of-total pattern.
    Hash-exactness through the usual money discipline plus one subtlety:
    the windowed denominator sums DECIMAL (exact, order-free) and only
    the final share is a single double division — a windowed DOUBLE sum
    would be engine-reduction-order dependent and could never hash. The
    window runs on the 25-row aggregate, not the fact table: shuffle
    cost is the groupBy's, the window is free."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    agg = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("nation_rev_dec")
        )
    )
    w = Window.partitionBy("r_name")
    return agg.select(
        "n_name",
        "r_name",
        F.col("nation_rev_dec").cast("double").alias("nation_rev"),
        (
            F.col("nation_rev_dec").cast("double")
            / F.sum("nation_rev_dec").over(w).cast("double")
        ).alias("region_share"),
    )


@query(
    "j14_asof_tolerance",
    oracle="""
    SELECT e.event_id,
           CASE WHEN c.ts >= e.ts - INTERVAL 30 MINUTE
                THEN c.event_id ELSE NULL END AS click_id_tol,
           CASE WHEN c.ts >= e.ts - INTERVAL 30 MINUTE
                THEN CAST(epoch_us(e.ts) - epoch_us(c.ts) AS BIGINT)
                ELSE NULL END AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    tags=("J8",),
)
def j14_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE window (pandas merge_asof(tolerance=)
    parity): each error event picks up the latest prior click by the same
    user only if it happened within 30 minutes — staler matches null out.
    The tolerance is a post-match scalar filter over the single-shuffle
    as-of core (operators/asof.py), so it adds zero distributed cost; the
    gap is reported in exact integer microseconds. The oracle states the
    same rule over DuckDB's native ASOF LEFT JOIN — two independent
    as-of implementations agreeing on match + tolerance semantics."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click").withColumnRenamed(
        "event_id", "click_id"
    )
    j = asof_join(
        errors, clicks, on="ts", by="user_id",
        right_payload=["click_id", "ts"], suffix="_m",
    )
    within = F.col("ts_m") >= F.col("ts") - F.expr("INTERVAL 30 MINUTE")
    return j.select(
        "event_id",
        F.when(within, F.col("click_id_m")).alias("click_id_tol"),
        F.when(
            within, F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_m"))
        ).alias("gap_us"),
    )


@query(
    "a20_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS DECIMAL(18,2)) AS wt,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
                 OVER (PARTITION BY l_returnflag
                       ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)),
                                l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING) AS cum_wt,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
                 OVER (PARTITION BY l_returnflag) AS tot_wt
      FROM lineitem),
    hit AS (
      SELECT l_returnflag, price,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY cum_wt, price) AS rn
      FROM w WHERE 2 * cum_wt >= tot_wt)
    SELECT l_returnflag,
           CAST(price AS DOUBLE) AS weighted_median_price
    FROM hit WHERE rn = 1
    """,
    tags=("W3", "A10", "O4"),
)
def a20_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median: the price at which half the shipped
    QUANTITY (not half the rows) lies below — the inventory-weighted
    location statistic plain percentile_cont can't express. Formulation:
    cumulative weight over the price-sorted stream (unique tie-break
    key), first row where 2·cum ≥ total. All weights ride DECIMAL
    (order-free sums; DuckDB windowed segment-tree summation and Spark's
    sequential accumulation agree because decimal addition is exact), so
    the hash is bit-deterministic.

    Scale: l_returnflag has THREE distinct values, so the textbook
    per-group ordered window (which the oracle states) would serialize a
    third of lineitem through one task. The engine side instead runs
    operators/sweep.grouped_weighted_median — price-range buckets +
    the two-pass distributed prefix for the cumulative weights, and a
    map-side-combinable min(struct) for the pick; the oracle hash match
    certifies the decomposition is exact."""
    from ..operators.sweep import grouped_weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    typed = li.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("decimal(18,2)").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    med = grouped_weighted_median(
        typed, "l_returnflag", "price", "wt", ["l_orderkey", "l_linenumber"]
    )
    return med.select(
        "l_returnflag",
        F.col("weighted_median").cast("double").alias("weighted_median_price"),
    )


@query(
    "u5_bag_set_ops",
    oracle="""
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
    x AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct,
           CAST(sum(k) AS BIGINT) AS key_sum
    FROM i
    UNION ALL
    SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct,
           CAST(sum(k) AS BIGINT) AS key_sum
    FROM x
    """,
    tags=("U2", "U3"),
)
def u5_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations (INTERSECT ALL / EXCEPT ALL): the
    multiplicity-preserving variants — a key appearing 3× in A and 2× in
    B survives INTERSECT ALL twice and EXCEPT ALL once, which the
    DISTINCT forms (u2/u3) erase. Spark plans both as a single
    aggregate-with-counters shuffle (no join explosion); the checksums
    over the result multiset pin the exact multiplicities against the
    oracle's native ALL operators."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )

    def stats(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("k").cast("long").alias("n_distinct"),
            F.sum("k").cast("long").alias("key_sum"),
        ).select(F.lit(op).alias("op"), "n", "n_distinct", "key_sum")

    return stats(a.intersectAll(b), "intersect_all").unionByName(
        stats(a.exceptAll(b), "except_all")
    )


@query(
    "a22_approx_topk",
    oracle="""
    SELECT o_orderpriority AS item,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    ORDER BY n DESC, item LIMIT 5
    """,
    tags=("A4", "A2", "O3"),
)
def a22_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (the DataSketches frequent-items aggregate, Spark 4):
    single-pass mergeable top-k over the priority column. Exactness
    argument — the same one that lets this query carry an EXACT oracle:
    with maxItemsTracked (1024 here) ≥ the true distinct count (5), the
    sketch degenerates to exact counting, AND k equals the cardinality so
    the returned item SET cannot depend on how the sketch breaks a count
    tie at the k-boundary — the declared result equals plain GROUP BY. At 100 TB cardinalities ABOVE capacity, the same
    plan keeps working with the documented approximation error — the
    graceful-degradation property exact heavy hitters (a18) trade away.
    The sketch's array output is exploded and re-sorted with a full
    tie-break so ordering inside the sketch can't leak into the hash."""
    o = load_table(spark, sf_dir, "orders")
    sk = o.agg(
        F.expr("approx_top_k(o_orderpriority, 5, 1024)").alias("topk")
    )
    flat = sk.select(F.explode("topk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").cast("long").alias("n")
    )
    return flat.orderBy(F.desc("n"), "item").limit(5)


@query(
    "p11_collation_group",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                  ELSE lower(o_orderpriority) END AS pr
      FROM orders)
    SELECT lower(pr) AS priority,
           CAST(count(*) AS BIGINT) AS n
    FROM mixed GROUP BY lower(pr)
    """,
    tags=("F6", "A2"),
)
def p11_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATION-aware grouping (Spark 4 collations): a case-mangled feed
    groups under UTF8_LCASE so 'URGENT' and 'urgent' land in one group —
    declared on the COLUMN TYPE, not hand-lowered in every expression
    (the point of engine collations: comparisons, joins and aggregations
    all inherit the semantics). The output key is re-collated to binary
    and lowercased so the hash compares plain strings; the oracle states
    the equivalent lower()-keyed aggregate (identical for this ASCII
    domain)."""
    o = load_table(spark, sf_dir, "orders")
    mixed = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority"))
        .otherwise(F.lower("o_orderpriority"))
        .alias("pr")
    )
    ci = mixed.select(F.expr("collate(pr, 'UTF8_LCASE')").alias("pr"))
    g = ci.groupBy("pr").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return g.select(
        F.expr("CAST(collate(lower(pr), 'UTF8_BINARY') AS STRING)").alias("priority"),
        "n",
    )


@query(
    "j15_cogroup_merge",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
             CAST(max(event_id) AS BIGINT) AS max_click_id
      FROM events WHERE event_type = 'click' AND user_id < 60
      GROUP BY user_id),
    e AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_errors,
             CAST(max(event_id) AS BIGINT) AS max_error_id
      FROM events WHERE event_type = 'error' AND user_id < 60
      GROUP BY user_id)
    SELECT COALESCE(c.user_id, e.user_id) AS user_id,
           COALESCE(c.n_clicks, 0) AS n_clicks,
           COALESCE(e.n_errors, 0) AS n_errors,
           c.max_click_id, e.max_error_id
    FROM c FULL OUTER JOIN e ON c.user_id = e.user_id
    """,
    tags=("J2", "A2"),
)
def j15_cogroup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED applyInPandas (the §2.10 API surface's last member):
    each user's click rows and error rows arrive as a PAIR of pandas
    frames in one Python call — the escape hatch for per-key merge logic
    no join expresses (custom reconciliation, interleaved replay,
    model-based matching). Here the merge computes per-side counts and
    maxima with empty-side handling, so the FULL-OUTER-shaped oracle
    pins the cogroup contract: a user present on one side only still
    yields one output row (the missing side's frame is empty, not
    absent). One co-partitioned shuffle of both inputs; Arrow-batched
    like every Python stage in the engine."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "event_id")

    def merge(key, c_pdf: pd.DataFrame, e_pdf: pd.DataFrame) -> pd.DataFrame:
        # when the caller only counts the output, Catalyst column-prunes
        # the UDF inputs to zero columns (rows survive, schema doesn't) —
        # guard the column access so the row-count path stays valid
        def mx(pdf: pd.DataFrame):
            if "event_id" in pdf.columns and len(pdf):
                return pdf["event_id"].max()
            return None

        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [len(c_pdf)],
                "n_errors": [len(e_pdf)],
                "max_click_id": [mx(c_pdf)],
                "max_error_id": [mx(e_pdf)],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(errors.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id bigint, n_clicks bigint, n_errors bigint, "
            "max_click_id bigint, max_error_id bigint",
        )
    )


@query(
    "w10_analytic_suite",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("W1", "W10"),
)
def w10_analytic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytic functions — ntile / percent_rank / cume_dist
    per priority class ordered by price: the quartile-assignment +
    relative-standing suite feature stores derive per entity. One
    partitioned window sort computes all three (Catalyst shares the
    Exchange+Sort across same-spec window functions); the o_orderkey
    tiebreak makes every rank — and therefore both double ratios, exact
    integer divisions — deterministic cross-engine. ntile's BIGINT cast
    pins the Arrow type (Spark int vs DuckDB bigint)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "j13_bloom_pruned_join",
    oracle="""
    SELECT l.l_suppkey AS suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_9'
    GROUP BY l.l_suppkey, s.s_name
    ORDER BY suppkey
    """,
    tags=("J13", "J1", "A2"),
)
def j13_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-Bloom-filter join (operators/bloomjoin.py): revenue per
    supplier of one nation, with lineitem Bloom-pruned on l_suppkey
    BEFORE the join — the explicit form of the runtime-filter rewrite
    warehouse engines apply to selective fact-dim joins. The bitmap is
    built distributed (map-side bit_or partials; driver sees only the
    128 KiB word table), the probe test is one Arrow map stage over the
    fact scan, and the exact semi-join on the survivors restores
    set-exact results — the oracle is therefore the PLAIN join. At 100 TB
    the unpruned plan shuffles all of lineitem; this one shuffles ~0.4%
    of it (selectivity of one nation's suppliers) plus a ~2^-13
    false-positive tail at the default 1 Mi-bit / 5-hash sizing.
    Measured at sf1 (metrics.shuffle_written, SQLMetrics): the pruned
    join shuffles 4.03% of the unpruned plan's records and 3.78% of its
    bytes — one nation's 1/25 supplier selectivity plus a ~0.03% fp
    tail, exactly the designed envelope (SCALE.md §bloom)."""
    from ..operators.bloomjoin import bloom_pruned_semi_join

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    build = s.join(
        F.broadcast(n.filter(F.col("n_name") == "NATION_9")),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", "s_name")
    pruned = bloom_pruned_semi_join(l, build, "l_suppkey", "s_suppkey")
    return (
        pruned.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(
                _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
            ).cast("double").alias("revenue"),
        )
        .join(F.broadcast(build.withColumnRenamed("s_suppkey", "suppkey")), "suppkey")
        .select("suppkey", "s_name", "n_items", "revenue")
        .orderBy("suppkey")
    )
