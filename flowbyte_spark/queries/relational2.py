"""V77+: relational additions registered after round 4."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.functions import dec_sum, ts_str
from flowbyte_spark.queries import register
from flowbyte_spark.queries.relational import _DSUM

# ---------------------------------------------------------------------------
# V77 — TPC-H Q18 shape: large-volume orders (HAVING subquery semi-join)
# ---------------------------------------------------------------------------
_Q18_QTY = 250


@register(
    "v77_q18_large_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
           o_totalprice,
           {_DSUM.format(x='l_quantity')} AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > {_Q18_QTY})
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def v77_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with large-volume orders.  The HAVING
    subquery becomes an aggregate-then-semi-join: lineitem aggregates
    once into a small qualifying-key set (sum(qty) > threshold keeps a
    fraction of orders), AQE broadcasts it, and the second lineitem pass
    plus the orders/customer dims join against only qualifying keys.
    Two lineitem scans, one fact-sized shuffle (the qualifying agg) —
    the other joins are broadcast-sized by construction."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    qualifying = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .where(F.col("__q") > _Q18_QTY)
        .select("l_orderkey")
    )
    li = lineitem.select("l_orderkey", "l_quantity").join(
        qualifying, "l_orderkey", "left_semi"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(dec_sum(F.col("l_quantity"), "sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            ts_str("o_orderdate", "orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# V85/V86 — skew-resilient window tier under the hash gate (round 6).
# The salted operators (operators/skew.py, VERDICT r4 #4) had property
# tests but never a driver row; these two pin them to the driver oracle.
# Running sums use integer cents (the v75 rule): FP addition order would
# otherwise differ between the two-phase merge and the oracle's single
# window pass.
# ---------------------------------------------------------------------------
_SKEW_BUCKET_S = 6 * 3600  # wide enough that cross-bucket carry paths run


@register(
    "v85_salted_window",
    oracle="""
    SELECT event_id,
           COUNT(*) OVER w AS run_cnt,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS run_cents,
           CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS run_min_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def v85_salted_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/sum/min over event time computed by the
    TWO-PHASE salted window (within-bucket window + cross-bucket offset
    merge — the shape that survives one hot key at 100x, where a plain
    Window.partitionBy puts a key's whole history in one task).  Equality
    with the oracle's single-pass window proves the bucket split, the
    offset carry, and the (ts, event_id) tie-break all compose exactly."""
    from flowbyte_spark.operators.skew import salted_window_agg

    events = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = salted_window_agg(
        events,
        keys=["user_id"],
        order_by="ts",
        aggs={
            "run_cnt": ("count", "cents"),
            "run_cents": ("sum", "cents"),
            "run_min_cents": ("min", "cents"),
        },
        bucket_width_seconds=_SKEW_BUCKET_S,
        tiebreakers=("event_id",),
    )
    return out.select(
        "event_id",
        F.col("run_cnt").cast("long").alias("run_cnt"),
        F.col("run_cents").cast("long").alias("run_cents"),
        F.col("run_min_cents").cast("long").alias("run_min_cents"),
    ).orderBy("event_id")


@register(
    "v86_salted_lag",
    oracle="""
    SELECT event_id,
           LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_event
    FROM events
    ORDER BY event_id
    """,
)
def v86_salted_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user previous-event id via the two-phase salted lag: plain lag
    within (user, time bucket), bucket-boundary rows take the previous
    non-empty bucket's last value through a one-row-per-bucket carry
    table.  The oracle's single-pass LAG distinguishes genuine NULLs
    (first event of a user) from bucket boundaries — any carry bug
    surfaces as a NULL/value mismatch."""
    from flowbyte_spark.operators.skew import salted_lag

    events = load_table(spark, sf_dir, "events")
    out = salted_lag(
        events,
        keys=["user_id"],
        order_by="ts",
        col="event_id",
        out="prev_event",
        bucket_width_seconds=_SKEW_BUCKET_S,
        tiebreakers=("event_id",),
    )
    return out.select("event_id", "prev_event").orderBy("event_id")


# ---------------------------------------------------------------------------
# V88 — VariantType semi-structured tier (Spark 4; round 6).
# v14/v39 cover string-path JSON (get_json_object / from_json with a
# declared schema); Variant is the schemaless binary-encoded form Spark 4
# added for open JSON — parse once, typed path extraction without a
# schema, malformed input isolated by try_parse_json.
# ---------------------------------------------------------------------------


@register(
    "v88_variant_json",
    oracle="""
    WITH e AS (
        SELECT CAST(json_extract(props, '$.k') AS INT) AS k FROM events
        WHERE json_extract(props, '$.k') IS NOT NULL),
    p AS (
        SELECT k,
               '{"k": ' || k || ', "tag": "t' || (k % 7) || '", "arr": ['
                   || (k % 3) || ', ' || (k % 5) || ']}' AS payload
        FROM e)
    SELECT 't' || (k % 7) AS tag,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract(payload, '$.k') AS INT)) AS BIGINT)
               AS sum_k,
           CAST(SUM(CAST(json_extract(payload, '$.arr[1]') AS INT)) AS BIGINT)
               AS sum_a1,
           CAST(SUM(CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_malformed
    FROM p
    GROUP BY 1
    ORDER BY 1
    """,
)
def v88_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-JSON processing through Spark 4's VariantType: both engines
    deterministically enrich each event's props into a nested payload
    (object + array), Spark parses it ONCE into a variant and extracts
    typed paths (`variant_get` with casts, 0-based array index), and a
    malformed twin of every 10th payload must be isolated by
    `try_parse_json` returning NULL rather than failing the query.  The
    oracle recomputes every extraction with DuckDB's JSON functions."""
    from flowbyte_spark.functions import ensure_parallelism

    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    # fan out the RAW props before any JSON work: the fixture is one
    # parquet split, and extracting k pre-exchange would run the first
    # (and most expensive) parse single-threaded under the exchange; at
    # production scale file splits make this a no-op.
    base = (
        ensure_parallelism(events.select("props"))
        .select(k.alias("k"))
        .where(F.col("k").isNotNull())
    )
    payload = F.format_string(
        '{"k": %d, "tag": "t%d", "arr": [%d, %d]}',
        F.col("k"), F.col("k") % 7, F.col("k") % 3, F.col("k") % 5,
    )
    broken = F.when(F.col("k") % 10 == 0, F.lit("{oops")).otherwise(payload)
    v = base.select(
        "k",
        F.parse_json(payload).alias("v"),
        F.try_parse_json(broken).alias("maybe_v"),
    )
    return (
        v.select(
            F.variant_get("v", "$.tag", "string").alias("tag"),
            F.variant_get("v", "$.k", "int").alias("vk"),
            F.variant_get("v", "$.arr[1]", "int").alias("a1"),
            F.col("maybe_v").isNull().cast("int").alias("bad"),
        )
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("vk").cast("long").alias("sum_k"),
            F.sum("a1").cast("long").alias("sum_a1"),
            F.sum("bad").cast("long").alias("n_malformed"),
        )
        .orderBy("tag")
    )


# ---------------------------------------------------------------------------
# V90 — TPC-H Q21 shape: suppliers who kept orders waiting (round 6).
# The classic correlated EXISTS + NOT-EXISTS pair on the SAME table with
# a two-column correlation (orderkey match, suppkey mismatch) — the shape
# that separates real decorrelation from the simple single-EXISTS of
# v48.  Adapted to the fixture schema: "late" = shipped after a fixed
# cutoff (the fixtures carry no receipt/commit dates).
# ---------------------------------------------------------------------------
_Q21_CUTOFF = "1999-06-01 00:00:00"
_Q21_TOPN = 20


@register(
    "v90_q21_waiting_suppliers",
    oracle=f"""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > TIMESTAMP '{_Q21_CUTOFF}'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > TIMESTAMP '{_Q21_CUTOFF}')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT {_Q21_TOPN}
    """,
)
def v90_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: suppliers whose LATE line was the only late line in a
    multi-supplier finished order.  The correlated EXISTS compiles to a
    left-semi join on (orderkey, suppkey<>) and the NOT EXISTS to a
    left-anti join over the late subset — both against the same fact
    table, broadcast-eligible after the late filter prunes it."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_Q21_CUTOFF).cast("timestamp")
    late = li.where(F.col("l_shipdate") > cutoff)
    orders_f = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supplier = load_table(spark, sf_dir, "supplier")

    l1 = late.alias("l1").join(
        orders_f.select("o_orderkey"),
        F.col("l1.l_orderkey") == F.col("o_orderkey"),
    )
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    with_other = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    l3 = late.select("l_orderkey", "l_suppkey").alias("l3")
    sole_late = with_other.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        sole_late.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l1.l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(_Q21_TOPN)
    )


# ---------------------------------------------------------------------------
# V91 — correlated LATERAL join (Spark 4 SQL; round 6).
# The per-row dependent subquery with ORDER BY + LIMIT — "top-n per key
# via subquery" as users actually write it; Spark decorrelates it into a
# join + per-key window rather than executing O(rows) subqueries.
# ---------------------------------------------------------------------------


@register(
    "v91_lateral_topk",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           l.o_orderkey, l.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) l
    WHERE c.c_custkey < 200
    ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def v91_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's two priciest orders through a correlated LATERAL
    subquery with ORDER BY/LIMIT.  Registered as literal SQL on purpose:
    the point is Spark's decorrelation of the dependent join (the plan
    contains one join + one ranking window, not per-row subquery
    execution), proven by the hash against DuckDB's native LATERAL."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v91_c")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v91_o")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment,
               l.o_orderkey, l.o_totalprice
        FROM v91_c c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM v91_o
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2) l
        WHERE c.c_custkey < 200
        ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
        """
    )


# ---------------------------------------------------------------------------
# V92 — recursive CTE (Spark 4.1 WITH RECURSIVE; round 6).
# Iterative self-reference the DataFrame API cannot express in one
# query: walk every customer up the implicit decimal tree
# (parent = custkey div 10) to the root, accumulating depth and the
# path's account-balance sum in integer cents.
# ---------------------------------------------------------------------------


@register(
    "v92_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(c_custkey, cur, depth, path_cents) AS (
        SELECT c_custkey, c_custkey, 0,
               CAST(ROUND(c_acctbal * 100) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT w.c_custkey, p.c_custkey, w.depth + 1,
               w.path_cents + CAST(ROUND(p.c_acctbal * 100) AS BIGINT)
        FROM walk w JOIN customer p ON p.c_custkey = w.cur // 10
        WHERE w.cur > 0)
    SELECT c_custkey,
           CAST(MAX(depth) AS BIGINT) AS depth_to_root,
           CAST(arg_max(path_cents, depth) AS BIGINT) AS path_cents
    FROM walk
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def v92_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-to-root walk over the implicit decimal customer tree via
    WITH RECURSIVE: per customer, the number of ancestor hops to key 0
    and the exact integer-cent balance sum along the FULL path —
    selected at max depth via max_by, NOT MAX over the running prefixes
    (TPC-H generates ~9% negative balances, where the largest prefix is
    not the complete path — round-6 review finding).  The oracle runs
    DuckDB's native recursive CTE; iteration count, join-per-step
    semantics, and the termination condition all gate the hash."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v92_c")
    return spark.sql(
        """
        WITH RECURSIVE walk(c_custkey, cur, depth, path_cents) AS (
            SELECT c_custkey, c_custkey, 0,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT)
            FROM v92_c
            UNION ALL
            SELECT w.c_custkey, p.c_custkey, w.depth + 1,
                   w.path_cents + CAST(ROUND(p.c_acctbal * 100) AS BIGINT)
            FROM walk w JOIN v92_c p ON p.c_custkey = CAST(w.cur / 10 AS BIGINT)
            WHERE w.cur > 0)
        SELECT c_custkey,
               CAST(MAX(depth) AS BIGINT) AS depth_to_root,
               CAST(max_by(path_cents, depth) AS BIGINT) AS path_cents
        FROM walk
        GROUP BY c_custkey
        ORDER BY c_custkey
        """
    )


# ---------------------------------------------------------------------------
# V93 — XML tier (Spark 4 built-in from_xml + xpath; round 6).
# Both engines deterministically render each event's props into a nested
# XML payload; Spark parses it ONCE with a declared schema (`from_xml`)
# AND extracts one field via the schemaless `xpath_int` path — the two
# ways users consume XML — while DuckDB recomputes every extraction
# arithmetically from the same k.  A wrong parse, a mis-nested element
# or a 1-vs-0-based xpath index all break the hash.
# ---------------------------------------------------------------------------


@register(
    "v93_xml_extract",
    oracle="""
    WITH e AS (
        SELECT CAST(json_extract(props, '$.k') AS INT) AS k FROM events
        WHERE json_extract(props, '$.k') IS NOT NULL)
    SELECT 't' || (k % 5) AS tag,
           COUNT(*) AS cnt,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(k % 3) AS BIGINT) AS sum_i2,
           CAST(SUM(k % 7) AS BIGINT) AS sum_xp
    FROM e
    GROUP BY 1
    ORDER BY 1
    """,
)
def v93_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML parse + typed extraction: schema-declared ``from_xml`` for the
    nested struct/array and ``xpath_int`` for the schemaless path, both
    over the same rendered payload, aggregated per tag."""
    from flowbyte_spark.functions import ensure_parallelism

    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    base = (
        ensure_parallelism(events.select("props"))
        .select(k.alias("k"))
        .where(F.col("k").isNotNull())
    )
    rendered = base.withColumn(
        "xml",
        F.format_string(
            "<r><k>%d</k><tag>t%d</tag><arr><i>%d</i><i>%d</i></arr></r>",
            F.col("k"), F.col("k") % 5, F.col("k") % 7, F.col("k") % 3,
        ),
    )
    parsed = rendered.select(
        "k",
        F.from_xml(
            "xml", "k INT, tag STRING, arr STRUCT<i: ARRAY<INT>>"
        ).alias("p"),
        F.expr("xpath_int(xml, '/r/arr/i[1]')").alias("xp"),
    )
    return (
        parsed.select(
            F.col("p.tag").alias("tag"),
            F.col("p.k").alias("vk"),
            F.col("p.arr.i")[1].alias("i2"),  # 0-based: second element
            "xp",  # xpath [1] is 1-based: FIRST element = k % 7
        )
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("vk").cast("long").alias("sum_k"),
            F.sum("i2").cast("long").alias("sum_i2"),
            F.sum("xp").cast("long").alias("sum_xp"),
        )
        .orderBy("tag")
    )


# ---------------------------------------------------------------------------
# V94/V95 — the remaining skew-family operators under the hash gate
# (round 6; v85/v86 covered the window/lag pair).  Both must equal the
# plain unsalted form exactly — which is precisely what the oracle
# computes.
# ---------------------------------------------------------------------------


@register(
    "v94_salted_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_custkey % 10 = 3
    ORDER BY o_orderkey
    """,
)
def v94_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-resilient equi-join: the fact side is salted per row, the
    dim side replicated per salt bucket, and the output must be row-for-
    row the plain join (salt never leaks).  The filter concentrates one
    residue class to make the big side genuinely skewed toward few
    customers."""
    from flowbyte_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") % 10 == 3
    )
    customer = load_table(spark, sf_dir, "customer")
    return (
        salted_join(
            orders.withColumnRenamed("o_custkey", "custkey"),
            customer.withColumnRenamed("c_custkey", "custkey"),
            on=["custkey"],
            buckets=8,
            how="inner",
        )
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    )


@register(
    "v95_two_phase_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def v95_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: phase 1 groups by (key, salt) so a hot key
    splits across buckets, phase 2 merges partials — exact for the
    associative trio (count as sum-of-counts, integer-cent sums, max of
    maxes), proven by equality with the oracle's single-phase GROUP BY.
    o_orderpriority has ~5 values over 15k orders: every key is hot,
    the worst case for a single-phase per-key reduction."""
    from flowbyte_spark.operators.skew import two_phase_agg

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    return two_phase_agg(
        orders,
        keys=["o_orderpriority"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pc"),
            F.sum("cents").alias("ps"),
            F.max("o_orderkey").alias("pm"),
        ],
        final_aggs=[
            F.sum("pc").cast("long").alias("n_orders"),
            F.sum("ps").cast("long").alias("total_cents"),
            F.max("pm").cast("long").alias("max_key"),
        ],
        buckets=8,
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# V96 — salted (skew-resistant) ASOF join (round 8).  The hot key
# (one-third of users collapsed into hk = -1) is exactly the shape that
# stalls Window.partitionBy(key): the salted two-phase carry must still
# equal DuckDB's native ASOF JOIN row-for-row.  1-day buckets over the
# 30-day fixture force ~30 buckets per key, so cross-bucket carrier
# fills (the part plain asof_join never exercises) are live in the gate.
# ---------------------------------------------------------------------------


@register(
    "v96_salted_asof",
    oracle="""
    WITH e AS (
        SELECT *, CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS hk
        FROM events)
    SELECT c.event_id, c.hk, p.event_id AS purchase_event_id,
           ROUND(p.value, 2) AS purchase_value
    FROM (SELECT * FROM e WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      ON c.hk = p.hk AND p.ts <= c.ts
    ORDER BY c.event_id
    """,
)
def v96_salted_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click picks up the hot-keyed user's latest at-or-before
    purchase via salted_asof_join (operators/asof.py): the carry runs
    within (key, day bucket), a per-bucket boundary table rolls the
    carrier across buckets, and the result must be row-identical to the
    unsalted ASOF semantics DuckDB computes natively."""
    from flowbyte_spark.operators.asof import salted_asof_join

    events = load_table(spark, sf_dir, "events").withColumn(
        "hk",
        F.when(F.col("user_id") % 3 == 0, F.lit(-1).cast("long")).otherwise(
            F.col("user_id")
        ),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "hk", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "hk",
        "ts",
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    joined = salted_asof_join(
        clicks,
        purchases,
        on="hk",
        left_time="ts",
        right_time="ts",
        right_values=["p_event_id", "p_value"],
        direction="backward",
        bucket_width_seconds=86400,
    )
    return joined.select(
        "event_id",
        "hk",
        F.col("p_event_id_matched").alias("purchase_event_id"),
        F.round(F.col("p_value_matched"), 2).alias("purchase_value"),
    ).orderBy("event_id")
