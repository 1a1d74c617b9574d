"""Extended relational queries V33-V37: as-of join, range join, pivot,
grouping sets (through the SQL facade), approx distinct.

V33/V34 verify the custom join rewrites (operators/asof.py) against
DuckDB's native ASOF JOIN / interval join — the strongest evidence the
rewrites are semantically exact.  V37 has no oracle by design
(approx_count_distinct is non-deterministic across engines); the driver
records the weaker rows-only check and the pytest suite asserts tolerance
against the exact count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table, register_tables
from flowbyte_spark.operators.asof import asof_join, range_join
from flowbyte_spark.operators.casts import normalize_decimals
from flowbyte_spark.queries import register

RANGE_SECONDS = 600  # 10 minutes


# ---------------------------------------------------------------------------
# V33 — as-of join (backward): each click picks up the user's latest
# at-or-before purchase
# ---------------------------------------------------------------------------
@register(
    "v33_asof_join",
    oracle="""
    SELECT c.event_id,
           c.user_id,
           p.event_id AS purchase_event_id,
           ROUND(p.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    ORDER BY c.event_id
    """,
)
def v33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["p_event_id", "p_value"],
        direction="backward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("p_event_id_matched").alias("purchase_event_id"),
        F.round(F.col("p_value_matched"), 2).alias("purchase_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# V34 — range join: same-user event pairs within 10 minutes
# ---------------------------------------------------------------------------
@register(
    "v34_range_join",
    oracle=f"""
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS cnt
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id <> b.event_id
     AND b.ts >= a.ts
     AND epoch(b.ts) - epoch(a.ts) <= {RANGE_SECONDS}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def v34_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    pairs = range_join(
        events,
        events,
        on="user_id",
        left_time="ts",
        right_time="ts",
        lower_seconds=0,
        upper_seconds=RANGE_SECONDS,
        extra_cond=F.col("event_id") != F.col("event_id_r"),
    )
    return (
        pairs.groupBy(
            F.col("event_type").alias("type_a"),
            F.col("event_type_r").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# V35 — pivot: order counts per market segment × order status
# ---------------------------------------------------------------------------
@register(
    "v35_pivot",
    oracle="""
    SELECT c_mktsegment,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def v35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pivoted = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])  # explicit values: no
        # distinct-scan pre-pass, stable column order
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0).cast("long")).alias(s) for s in ("F", "O", "P")],
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# V36 — GROUPING SETS through the spark.sql pass-through path
# ---------------------------------------------------------------------------
_V36_SQL_SPARK = """
    SELECT c_mktsegment, o_orderpriority,
           COUNT(*) AS cnt,
           CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
"""


@register(
    "v36_grouping_sets",
    oracle=_V36_SQL_SPARK + " ORDER BY g_seg, g_prio, c_mktsegment, o_orderpriority",
)
def v36_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the reference's pass-through pattern end to end: tables
    registered in the session catalog, raw SQL run by Catalyst as the
    attached engine, then the decimal policy (what ``compat.MSSQL.get_data``
    does in spark mode, sql.py:88-171, minus the pandas collect)."""
    register_tables(spark, sf_dir)
    df = normalize_decimals(spark.sql(_V36_SQL_SPARK))
    return df.orderBy("g_seg", "g_prio", "c_mktsegment", "o_orderpriority")


# ---------------------------------------------------------------------------
# V37 — approx_count_distinct under a HASH-GATED error CONTRACT (round 9;
# rows-only before).  The ESTIMATE is engine-specific and can never hash-
# match DuckDB — but the estimator's documented guarantee can: the query
# emits the exact count plus a within_bound flag (relative error <= 5x the
# requested rsd — HLL++'s rsd is one sigma, so 5 sigma never trips on a
# healthy estimator; measured 0.4% vs the 10% bound at sf0.1).  DuckDB's
# oracle computes the exact count and expects the flag TRUE, so a broken
# sketch now flips the driver row red instead of hiding behind rows-only.
# ---------------------------------------------------------------------------
@register(
    "v37_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def v37_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.3 "aggregate before you shuffle"): dedup the
    # (event_type, user_id) pairs FIRST, then run both counters over the
    # deduped stream.  HLL++ registers are insensitive to duplicates, so
    # approx_count_distinct over the distinct pairs is bit-identical to
    # running it over the raw rows, and the exact distinct count becomes
    # a plain count(user_id) — the mixed distinct/non-distinct aggregate
    # (two chained aggregate phases carrying the HLL buffers through
    # both) collapses to dedup + one simple aggregate.  NULL user_ids:
    # both counters ignore NULLs, and count("user_id") over the deduped
    # pairs preserves that.  Interleaved: 0.78 s -> 0.47 s
    # (equivalence asserted on both fixtures incl. a NULL case;
    # OPTIMIZATION_r16.md).
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", "user_id")
        .dropDuplicates()
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 5 * 0.02 * F.col("exact_users")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )
