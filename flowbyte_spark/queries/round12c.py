"""Round-12 third batch: the last six TPC-H query shapes — with these,
all 22 TPC-H decision-support shapes are registered (Q1 v03, Q2 v138,
Q3 v05, Q4 v147, Q5 v148, Q6 v149, Q7 v109, Q8 v110, Q9 v150, Q10
v151, Q11 v144, Q12 v152, Q13 v139, Q14 v145, Q15 v142, Q16 v143, Q17
v128, Q18 v77, Q19 v141, Q20 v140, Q21 v90, Q22 v116).  The reference
delegates every one of these to its attached SQL Server via
pass-through SQL (sql.py:88-109); here they are Catalyst-native.

Fixture adaptations (no partsupp table, no comment / shipmode /
commitdate columns): Q9's supply cost proxies as 0.6·p_retailprice per
unit; Q12 buckets on l_returnflag with the late-ship predicate
l_shipdate > o_orderdate standing in for the commit/receipt pair.
Numeric conventions as in round12b: exact DECIMAL(38,6) sums, ROUND at
the output edge only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.functions import DEC, dec_sum
from flowbyte_spark.queries import register


# ---------------------------------------------------------------------------
# V147 — TPC-H Q4: order-priority checking.  EXISTS(correlated, with a
# cross-table inequality l_shipdate > o_orderdate) per order in one
# quarter → a left-semi join carrying the non-equi conjunct; the
# orderdate filter halves the probe side before the shuffle.
# ---------------------------------------------------------------------------
@register(
    "v147_q4_priority_check",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= '1996-07-01' AND o.o_orderdate < '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY 1 ORDER BY 1
    """,
)
def v147_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > orders["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# V148 — TPC-H Q5: local supplier volume.  The 6-table join whose
# distinguishing conjunct lives in the JOIN GRAPH, not a filter:
# customer and supplier must share a nation (c_nationkey =
# s_nationkey rides on the lineitem⋈supplier join).  Region/nation/
# supplier broadcast; customer⋈orders⋈lineitem shuffle on their keys.
# ---------------------------------------------------------------------------
@register(
    "v148_q5_local_volume",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
    GROUP BY 1 ORDER BY revenue DESC, nation
    """,
)
def v148_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    asia_supp = supp.join(
        F.broadcast(
            nation.join(
                F.broadcast(region),
                nation["n_regionkey"] == region["r_regionkey"],
            )
        ),
        supp["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(asia_supp),
            (li["l_suppkey"] == F.col("s_suppkey"))
            & (cust["c_nationkey"] == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# V149 — TPC-H Q6: forecast revenue change.  Pure scan-filter-agg; the
# whole query should collapse into one WholeStageCodegen span over a
# scan whose PushedFilters carry the discount/quantity envelope
# (plan-asserted in tests/test_round12c.py).
# ---------------------------------------------------------------------------
@register(
    "v149_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
               AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def v149_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# V150 — TPC-H Q9: product-type profit.  With no partsupp fixture the
# per-unit supply cost proxies as 0.6·p_retailprice (computed in IEEE
# double identically by both engines, then cast to exact decimal — the
# subtraction itself is decimal, so group sums are order-independent).
# Part/supplier/nation broadcast into the fact; orders joins on the
# orderkey shuffle.
# ---------------------------------------------------------------------------
@register(
    "v150_q9_product_profit",
    oracle="""
    SELECT nation, o_year, ROUND(CAST(SUM(amount) AS DOUBLE), 2) AS sum_profit
    FROM (SELECT n.n_name AS nation,
                 CAST(year(o.o_orderdate) AS INT) AS o_year,
                 CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,6))
                 - CAST(0.6 * p.p_retailprice * l.l_quantity
                        AS DECIMAL(38,6)) AS amount
          FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE p.p_name LIKE '%red%') profit
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def v150_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%red%")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    supp_nat = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast(DEC) - (
        0.6 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp_nat), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount").cast("double"), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# V151 — TPC-H Q10: returned-item reporting.  Quarter of orders ⋈
# returned lines ⋈ customer dim, top-20 customers by lost revenue —
# the final ORDER BY + LIMIT must plan as TakeOrderedAndProject (no
# global sort of the aggregate).  revenue DESC ties broken by the
# unique custkey so the LIMIT boundary is deterministic.
# ---------------------------------------------------------------------------
@register(
    "v151_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue,
           c.c_acctbal, n.n_name AS nation
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= '1996-10-01' AND o.o_orderdate < '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def v151_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(cust, cust["c_custkey"] == orders["o_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.col("n_name").alias("nation"),
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
    )


# ---------------------------------------------------------------------------
# V152 — TPC-H Q12: shipping priority classes.  The fixture has no
# shipmode/commitdate, so the class buckets on l_returnflag and the
# lateness predicate is l_shipdate > o_orderdate; the shape under test
# is the join + dual conditional counts (CASE inside SUM, both legs in
# one pass).
# ---------------------------------------------------------------------------
@register(
    "v152_q12_ship_priority",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY 1 ORDER BY 1
    """,
)
def v152_q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > orders["o_orderdate"]),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            # NULL priority must count in NEITHER leg: the oracle's
            # CASE WHEN priority NOT IN (...) yields 0 for NULL under
            # SQL 3VL, so the otherwise(1) shorthand would diverge on a
            # fixture carrying NULL priorities (ADVICE r12).
            F.sum(
                F.when(high, 0)
                .when(F.col("o_orderpriority").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


# ---------------------------------------------------------------------------
# V153 — incremental VARIANCE/STDDEV maintenance via signed second
# moments.  Pure composition over v118's machinery: variance is a
# function of group-homomorphic moments (n, Σx, Σx²), so the CDC
# update maintains Σx and Σx² with signed partials and derives
# var/stddev only at read time — no new operator, no fact rescan, the
# moment answer completing the family (v118 sums, v124 extrema, v137
# distinct, v146 top-k).  Cross-engine determinism: the naive
# Sx2/n - (Sx/n)² formula cancels catastrophically and a 1-ulp
# engine difference flips the rounded boundary (observed on the 5-LOW
# group), so prices are quantized to integer cents with the IEEE-exact
# floor(x*100 + 0.5) (the q4 convention) and the numerator
# n·Σc² − (Σc)² is computed in EXACT decimal — both engines then
# divide the identical value by the identical n², and the rounded
# output cannot drift.
# ---------------------------------------------------------------------------
@register(
    "v153_incremental_variance",
    oracle="""
    WITH post AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000000 AS o_orderkey,
               o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders WHERE o_orderkey % 17 = 0
    ),
    m AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(c AS DECIMAL(38,6))) AS sc,
               SUM(CAST(c * c AS DECIMAL(38,6))) AS sc2
        FROM post GROUP BY o_orderpriority)
    SELECT o_orderpriority, n_orders,
           ROUND(CAST(n_orders * sc2 - sc * sc AS DOUBLE)
                 / n_orders / n_orders / 10000.0, 4) AS var_price,
           ROUND(SQRT(CAST(n_orders * sc2 - sc * sc AS DOUBLE)
                 / n_orders / n_orders / 10000.0), 4) AS std_price
    FROM m ORDER BY o_orderpriority
    """,
)
def v153_incremental_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.incremental import (
        agg_state,
        incremental_update,
    )

    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents.alias("c"),
        (cents * cents).alias("c2"),
    )
    state = agg_state(orders, ["o_orderpriority"], ["c", "c2"])
    deletes = orders.where(F.col("o_orderkey") % 13 == 0)
    inserts = orders.where(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey",
        F.col("o_orderkey").cast("long") + F.lit(1_000_000_000_000),
    )
    new_state = incremental_update(
        state, inserts, deletes, ["o_orderpriority"], ["c", "c2"]
    )
    n = F.col("__cnt__")
    # exact-decimal numerator; only the final division runs in floats,
    # on values both engines hold bit-identically
    num = (
        n.cast(DEC) * F.col("sum_c2") - F.col("sum_c") * F.col("sum_c")
    ).cast("double")
    var = num / n / n / F.lit(10000.0)
    return new_state.select(
        "o_orderpriority",
        n.alias("n_orders"),
        F.round(var, 4).alias("var_price"),
        F.round(F.sqrt(var), 4).alias("std_price"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# V154 — time-series resample: hourly spine + gap-fill with LOCF
# (last-observation-carried-forward).  The missing time-series shape:
# a dense hourly grid per user (global [min,max] hour span), hourly
# sums joined on, gaps filled by `last(value, ignorenulls)` over the
# event-time order — hours before a user's first observation stay
# NULL (no fabrication).  Hourly sums are exact-decimal and ROUNDED
# BEFORE the fill, so both engines carry bit-identical doubles into
# the window.  Scale shape: the spine explodes ~n_hours rows per user
# (no shuffle), one (user, hour) join shuffle, one window shuffle on
# user — all keyed, no single-partition stage.
# ---------------------------------------------------------------------------
_V154_USERS = 20


@register(
    "v154_gapfill_locf",
    oracle=f"""
    WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
                      date_trunc('hour', MAX(ts)) AS h1 FROM events),
    u AS (SELECT DISTINCT user_id FROM events
          WHERE user_id < {_V154_USERS}),
    spine AS (SELECT u.user_id,
                     unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
                         AS h
              FROM u, b),
    hourly AS (SELECT user_id, date_trunc('hour', ts) AS h,
                      ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6)))
                            AS DOUBLE), 2) AS v
               FROM events WHERE user_id < {_V154_USERS} GROUP BY 1, 2)
    SELECT s.user_id AS user_id,
           strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           last_value(hr.v IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.h) AS filled
    FROM spine s LEFT JOIN hourly hr
      ON s.user_id = hr.user_id AND s.h = hr.h
    ORDER BY user_id, hour_ts
    """,
)
def v154_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") < _V154_USERS
    )
    all_ev = load_table(spark, sf_dir, "events")
    bounds = all_ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    users = ev.select("user_id").distinct()
    spine = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(dec_sum(F.col("value"), "v"))
    )
    w = Window.partitionBy("user_id").orderBy("h")
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.last("v", ignorenulls=True).over(w).alias("filled"),
        )
        .orderBy("user_id", "hour_ts")
    )


# ---------------------------------------------------------------------------
# V155 — event-time rolling aggregate: RANGE frame bounded by a TIME
# INTERVAL (7 days preceding), not a row count — the frame contents
# depend on event-time density, so ROWS frames (v11) cannot express
# it.  Values sum as exact integer cents (engines slide frames with
# different float accumulation orders — segment trees vs recompute —
# so a double sum could drift at the ulp; integer sums cannot), the
# /100 happens at the output edge.
# ---------------------------------------------------------------------------
@register(
    "v155_interval_range_window",
    oracle="""
    SELECT event_id,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS roll_cents
    FROM events
    ORDER BY event_id
    """,
)
def v155_interval_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("fb155_events")
    # DataFrame rangeBetween only takes numeric offsets; the interval
    # frame is the SQL surface (same Catalyst node either way)
    return spark.sql(
        """
        SELECT event_id,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 7 DAY PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS roll_cents
        FROM fb155_events
        ORDER BY event_id
        """
    )


# ---------------------------------------------------------------------------
# V156 — equi-width histogram via width_bucket.  Spark's WidthBucket
# (mathExpressions.scala computeBucketNumber) is
#   v <  lo      -> 0
#   v >= hi      -> n + 1
#   else            (n.toDouble * (v - lo) / (hi - lo)).toLong + 1
# in IEEE doubles, multiply-before-divide; the oracle mirrors that
# EXACT arithmetic — same operand order (DuckDB evaluates a*b/c
# left-to-right under the same IEEE rules) and FLOOR for the
# non-negative .toLong truncation (DuckDB's CAST(double AS BIGINT)
# rounds-to-nearest, which would diverge at bucket edges) — including
# the >= hi clamp to n+1, reachable at larger SFs even though the
# sf0.01 fixture maxes at 499993.18 (ADVICE r12).  One
# partial-aggregated shuffle on a 50-value key.
# ---------------------------------------------------------------------------
@register(
    "v156_width_bucket_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN CAST(0 AS BIGINT)
                WHEN o_totalprice >= 500000.0 THEN CAST(51 AS BIGINT)
                ELSE CAST(FLOOR(50.0 * (o_totalprice - 0.0)
                                / (500000.0 - 0.0)) AS BIGINT) + 1
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 AS DOUBLE), 2) AS sum_price
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def v156_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.expr("width_bucket(o_totalprice, 0, 500000, 50)").alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice"), "sum_price"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# V157 — funnel analysis: ordered event-sequence matching (view →
# first click ≤12 h later → first purchase ≤24 h after that), counted
# per user segment.  The oracle states it as THREE staged min-joins;
# the Spark form is the one-pass array funnel: ONE groupBy(user)
# collecting each stage's sorted timestamp array, then pure
# higher-order expressions (filter + array_min) walk the funnel — one
# shuffle total, no self-joins, no window.  Per-user arrays are
# bounded by per-user event counts, and that bound is now ENFORCED:
# operators/funnel.py's max_events_per_user brake fails loud on a hot
# key (one bot with 10M events would otherwise buffer ~80 MB in a
# single aggregation), and the staged min-join variant — the oracle's
# own shape — is the registered skewed-corpus escape hatch.
# ---------------------------------------------------------------------------
@register(
    "v157_funnel_analysis",
    oracle="""
    WITH v AS (SELECT user_id, user_id % 10 AS segment, MIN(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    c AS (SELECT v.user_id, MIN(e.ts) AS t_click
          FROM v JOIN events e ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
            AND e.ts <= v.t_view + INTERVAL 12 HOUR GROUP BY 1),
    p AS (SELECT c.user_id, MIN(e.ts) AS t_purchase
          FROM c JOIN events e ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_click + INTERVAL 24 HOUR GROUP BY 1)
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_view,
           CAST(COUNT(c.t_click) AS BIGINT) AS n_click,
           CAST(COUNT(p.t_purchase) AS BIGINT) AS n_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    GROUP BY 1 ORDER BY 1
    """,
)
def v157_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # operators/funnel.py owns the physical forms; the one-pass array
    # variant here carries the fail-loud max_events_per_user brake
    # (VERDICT r12 "What's wrong" #1) — skewed corpora should call the
    # staged min-join variant instead (see the module docstring and
    # tests/test_funnel.py's hot-user proof).
    from flowbyte_spark.operators.funnel import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, segment=F.col("user_id") % 10)


# ---------------------------------------------------------------------------
# V158 — cohort retention: users cohorted by first-purchase day, the
# classic (cohort × day-offset → active users) matrix.  Two keyed
# aggregations and one user-key join; the DISTINCT collapses repeat
# activity inside a day before the matrix count, so the final shuffle
# carries at most users × observed days.
# ---------------------------------------------------------------------------
@register(
    "v158_cohort_retention",
    oracle="""
    WITH pe AS (SELECT user_id, ts FROM events
                WHERE event_type = 'purchase'),
    first_seen AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
      FROM pe GROUP BY 1),
    activity AS (
      SELECT DISTINCT p.user_id, f.cohort_day,
             CAST(datediff('day', f.cohort_day, date_trunc('day', p.ts))
                  AS INT) AS day_offset
      FROM pe p JOIN first_seen f ON p.user_id = f.user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity WHERE day_offset <= 7
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def v158_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    pe = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts")
    first_seen = pe.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        pe.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(
                F.date_trunc("day", "ts"), F.col("cohort_day")
            ).cast("int").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# V159 — STREAMING top-k maintenance: the live twin of v146.  Events
# replay as a multi-micro-batch file stream; per event type the
# applyInPandasWithState machine holds the current top-5 as O(k)
# array state (streaming/stateful.py:running_topk) and re-emits it in
# update mode whenever a batch improves it.  The latest emission per
# type, exploded to (rank, event_id, value) rows, must hash-match the
# batch ROW_NUMBER top-5 over the whole fixture — the v146 monoid law
# applied per micro-batch instead of per load.  5 keys, so the
# module's max_keys brake is waived deliberately.
# ---------------------------------------------------------------------------
_V159_K = 5


@register(
    "v159_stream_topk",
    oracle=f"""
    SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value
    FROM (SELECT event_type, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id) AS rn
          FROM events) t
    WHERE rn <= {_V159_K}
    ORDER BY event_type, rank
    """,
)
def v159_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.topk import top_k_per_group
    from flowbyte_spark.queries.streaming_q import _drain_to_parquet, _memo_source
    from flowbyte_spark.streaming import read_event_stream
    from flowbyte_spark.streaming.stateful import running_topk

    src = _memo_source(
        "v159_events",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(3)
        .write.parquet(p),
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    topk = running_topk(
        stream, k=_V159_K, watermark="3650 days", max_keys=None
    )
    latest = top_k_per_group(
        _drain_to_parquet(topk, "v159", "update"),
        ["event_type"],
        [F.col("batch_id").desc()],
        k=1,
    )
    return (
        latest.select(
            "event_type",
            F.posexplode(F.arrays_zip("vals", "ids")).alias("pos", "pair"),
        )
        .select(
            "event_type",
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("pair.ids").alias("event_id"),
            F.col("pair.vals").alias("value"),
        )
        .orderBy("event_type", "rank")
    )


# ---------------------------------------------------------------------------
# V160 — fixed-point PageRank on the part↔supplier bipartite graph
# (operators/components.py:pagerank_fixed_point): the second iterative
# graph algorithm beside connected components, sharing its scale
# skeleton (persisted edges, per-round eager checkpoint truncating
# lineage).  Ranks are integers scaled by 1e9 with integral divisions
# (`div` / DuckDB `//`), so sums are exact and order-free and the
# 5-iteration result is a pure function of the graph — hash-gateable
# where float PageRank never is.  Every node of this graph has inbound
# edges, so the oracle's GROUP BY form and the operator's
# keep-all-nodes left join coincide.  Node ids are INTEGERS
# (part -> 2k, supplier -> 2k+1): shuffling/hashing longs instead of
# concat strings cut the sf0.1 wall ~2x on top of the broadcast-ranks
# rework (operators/components.py docstring has the join-strategy
# numbers).
# ---------------------------------------------------------------------------
@register(
    "v160_pagerank",
    oracle="""
    WITH RECURSIVE
    edges AS (
      SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM lineitem
      UNION
      SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
      FROM lineitem),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    pr AS (
      SELECT 0 AS iter, node, CAST(1000000000 AS BIGINT) AS rank
      FROM (SELECT DISTINCT src AS node FROM edges)
      UNION ALL
      SELECT p.iter + 1, e.dst AS node,
             CAST(150000000 + (85 * SUM(p.rank // d.d)) // 100 AS BIGINT)
      FROM pr p
      JOIN edges e ON e.src = p.node
      JOIN deg d ON d.src = p.node
      WHERE p.iter < 5
      GROUP BY p.iter, e.dst
    )
    SELECT node, rank FROM pr WHERE iter = 5
    ORDER BY rank DESC, node LIMIT 20
    """,
)
def v160_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.components import pagerank_fixed_point

    li = load_table(spark, sf_dir, "lineitem")
    p2s = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = p2s.unionByName(
        p2s.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_fixed_point(edges, iterations=5)
    return ranks.orderBy(F.col("rank").desc(), "node").limit(20)
