"""Round-12 verification queries (VERDICT r11 "next round" items):

- V133 triple-chained stateful streaming pipeline — the production
  dedup→attribute→window shape: ``dropDuplicatesWithinWatermark``
  upstream of the v132 stream-stream join feeding a tumbling-window
  aggregate, THREE chained stateful operators in ONE streaming query
  (Spark 4 multi-stateful support).  The source is deliberately
  poisoned with duplicate event rows; if the dedup stage silently
  failed, every duplicated view/click would double its join pairs and
  the hash gate against the clean batch twin would miss.
- V134 CBO statistics tier — ``ANALYZE TABLE ... COMPUTE STATISTICS
  FOR COLUMNS`` flipping a join ORDER (plan-asserted with the stats-on
  / stats-off disabler-control pattern, tests/test_cbo.py).  The one
  Catalyst-given capability (SURVEY §4.2) the reference delegates to
  SQL Server's optimizer (sql.py:109) that had no proof query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.queries import register


# ---------------------------------------------------------------------------
# V133 — dedup → stream-stream join → windowed agg, one streaming query.
# The v132 skeleton (two file-stream readers over one directory, two
# trailing sentinel files, sentinel filtering on the read-back only) with a
# dropDuplicatesWithinWatermark stage ahead of each join input.  The
# source holds every event whose event_id is divisible by 10 TWICE; the
# oracle is the clean batch join→window twin, so a dedup miss (doubled
# pairs) or an over-drop (missing pairs) both break the value hash.
# ---------------------------------------------------------------------------
@register(
    "v133_stream_dedup_join_window",
    oracle="""
    SELECT strftime(date_trunc('hour', v.ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY 1
    ORDER BY 1
    """,
)
def v133_stream_dedup_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.queries.streaming_q import (
        _drain_to_parquet,
        _memo_source,
        _write_events_then_sentinels,
    )
    from flowbyte_spark.streaming import read_event_stream

    def build(path: str) -> None:
        events = load_table(spark, sf_dir, "events")
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        # Poison the stream: every 10th event appears twice.  The
        # duplicates ride in the SAME write (shuffled across the real
        # files), so each side's dedup state must actually hold them
        # across micro-batches.
        dupes = events.where(F.col("event_id") % 10 == 0)
        poisoned = events.unionByName(dupes)
        sentinels = spark.createDataFrame(
            [
                (-1, -999901, "view", 0.0, "{}"),
                (-2, -999902, "click", 0.0, "{}"),
            ],
            "event_id long, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
        _write_events_then_sentinels(
            path, poisoned, sentinels, cols, sentinel_copies=2
        )

    src = _memo_source("v133_events", sf_dir, build)

    def deduped_side(event_type: str, alias: str) -> DataFrame:
        # Watermark FIRST (dropDuplicatesWithinWatermark requires one),
        # then dedup on the event key: state is per-side and expires
        # with the watermark on a live stream; the horizon here spans
        # the bounded run, as in every sentinel-flushed query.  The
        # event_type filter is safe to push into the scan — each side's
        # sentinel carries that side's type, so row-group stats cannot
        # starve a watermark node (the v132 root cause only bites on
        # predicates that exclude sentinel files entirely).
        return (
            read_event_stream(spark, src, max_files_per_trigger=1)
            .where(F.col("event_type") == event_type)
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .alias(alias)
        )

    views = deduped_side("view", "l")
    clicks = deduped_side("click", "r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 minutes"))
    )
    # No sentinel guard in-plan (v132 landmine): sentinels join nothing
    # (disjoint negative user ids) and windows on ts=2100 never emit
    # inside the run, so the read-back filter below is belt-and-braces.
    joined = views.join(clicks, cond, "inner")
    agg = (
        joined.groupBy(F.window(F.col("l.ts"), "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "n_pairs",
        )
    )
    return (
        _drain_to_parquet(agg, "v133", "append")
        .where(F.col("hour_ts") < "2099-01-01")
        .orderBy("hour_ts")
    )


# ---------------------------------------------------------------------------
# V134 — CBO statistics tier: ANALYZE'd catalog tables + cost-based join
# reorder.  Written in the WORST order — the two big facts joined first,
# the selective customer filter last; with stats + CBO the optimizer
# rewrites it to hit the filtered dimension before the lineitem fan-out.
# tests/test_cbo.py asserts the ORDER flip stats-on vs stats-off (v120
# disabler-control pattern); this query gates the RESULT is order-
# independent.  The aggregate is materialized inside the scoped-conf
# block (localCheckpoint) because optimization happens at action time —
# a lazily returned plan would be optimized AFTER the scope exits, with
# CBO silently off (the v132 materialize-inside-scope precedent).
# ---------------------------------------------------------------------------
@register(
    "v134_cbo_join_order",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_nationkey = 3
    GROUP BY 1
    ORDER BY 1
    """,
)
def v134_cbo_join_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import dec_sum
    from flowbyte_spark.operators.cbo import CBO_CONFS, register_analyzed_table
    from flowbyte_spark.streaming import scoped_sql_conf

    li = register_analyzed_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    orders = register_analyzed_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderpriority"],
    )
    cust = register_analyzed_table(
        spark, sf_dir, "customer",
        ["c_custkey", "c_mktsegment", "c_nationkey"],
    )
    l, o, c = spark.table(li), spark.table(orders), spark.table(cust)
    shaped = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .where(
            (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 3)
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy("priority")
    )
    with scoped_sql_conf(spark, **CBO_CONFS):
        return shaped.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# V135 — partition-pruned incremental MIN/MAX as a DRIVER-VERIFIED row.
# The round-12 soak proved the partition_col path at 480M rows
# (BASELINE.md §Round-12 soak); this registers the same path against the
# fixtures so every round re-gates it: a lineitem-derived fact stored
# partitioned by kb, per-key argmin deletes (every delete is an extremum
# hit — the recompute MUST fire), synthetic inserts, and the operator's
# static partition prune on the recompute scan (2 of 16 partitions;
# plan-asserted in tests/test_incremental.py).
# ---------------------------------------------------------------------------
@register(
    "v135_incremental_minmax_pruned",
    oracle="""
    WITH pre AS (
        SELECT l_orderkey * 10 + l_linenumber AS id,
               CAST(l_orderkey % 500 AS BIGINT) AS k,
               CAST(FLOOR((l_orderkey % 500) / 32) AS INT) AS kb,
               l_extendedprice AS v
        FROM lineitem),
    dels AS (
        SELECT id FROM (
            SELECT id, ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, id) AS rn
            FROM pre WHERE k < 40) WHERE rn = 1),
    ins AS (
        SELECT -t.k AS id, CAST(t.k AS BIGINT) AS k,
               CAST(FLOOR(t.k / 32) AS INT) AS kb,
               12345.0 + t.k AS v
        FROM generate_series(480, 499) AS t(k)),
    post AS (
        SELECT * FROM pre WHERE id NOT IN (SELECT id FROM dels)
        UNION ALL SELECT * FROM ins)
    SELECT kb, k, CAST(COUNT(*) AS BIGINT) AS cnt,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM post GROUP BY kb, k ORDER BY kb, k
    """,
)
def v135_incremental_minmax_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from flowbyte_spark.operators.incremental import (
        incremental_minmax_update,
        minmax_state,
    )
    from flowbyte_spark.queries.streaming_q import _memo_source

    def pre_df() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        k = (F.col("l_orderkey") % 500).cast("long")
        return li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
            k.alias("k"),
            F.floor(k / 32).cast("int").alias("kb"),
            F.col("l_extendedprice").alias("v"),
        )

    def build(path: str) -> None:
        pre = pre_df()
        rn = F.row_number().over(
            Window.partitionBy("k").orderBy("v", "id")
        )
        del_ids = (
            pre.where(F.col("k") < 40)
            .withColumn("rn", rn)
            .where(F.col("rn") == 1)
            .select("id")
        )
        ins = spark.range(480, 500).select(
            (-F.col("id")).alias("id"),
            F.col("id").alias("k"),
            F.floor(F.col("id") / 32).cast("int").alias("kb"),
            (F.lit(12345.0) + F.col("id")).alias("v"),
        )
        post = (
            pre.join(del_ids, "id", "left_anti")
            .unionByName(ins)
        )
        # compacted partitioned layout — the storage shape the prune
        # needs (one shuffle keyed on kb, one file per partition)
        post.repartition("kb").write.partitionBy("kb").parquet(path)

    fact_post = spark.read.parquet(_memo_source("v135_fact", sf_dir, build))
    pre = pre_df()
    rn = F.row_number().over(Window.partitionBy("k").orderBy("v", "id"))
    dels = (
        pre.where(F.col("k") < 40)
        .withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    ins = spark.range(480, 500).select(
        (-F.col("id")).alias("id"),
        F.col("id").alias("k"),
        F.floor(F.col("id") / 32).cast("int").alias("kb"),
        (F.lit(12345.0) + F.col("id")).alias("v"),
    )
    state = minmax_state(pre, ["kb", "k"], ["v"])
    out = incremental_minmax_update(
        state, fact_post, ins, dels, ["kb", "k"], ["v"], partition_col="kb"
    )
    return out.select(
        "kb",
        "k",
        F.col("__cnt__").alias("cnt"),
        "min_v",
        "max_v",
    ).orderBy("kb", "k")


# ---------------------------------------------------------------------------
# V136 — Misra-Gries frequent items, verified as an error-bound CONTRACT
# (the v37/v61 pattern): the estimate itself depends on partition layout,
# but the guarantees don't — every term above N/k frequency must be in
# the sketch (superset), and every estimate must sit in
# [exact - N/k, exact] (undercount-only, bounded).  The hash-gated
# output is the contract evaluation over the exactly-recounted heavy
# hitters, which is deterministic; DuckDB recomputes the exact side and
# asserts the same booleans by definition.
# ---------------------------------------------------------------------------
V136_K = 100
V136_DOCS = 400


@register(
    "v136_frequent_terms_sketch",
    oracle=f"""
    WITH terms AS (
        SELECT unnest(string_split(lower(text), ' ')) AS term
        FROM documents WHERE doc_id < {V136_DOCS}),
    clean AS (SELECT term FROM terms WHERE term <> ''),
    tot AS (SELECT COUNT(*) AS n FROM clean),
    exact AS (SELECT term, COUNT(*) AS exact_ct FROM clean GROUP BY term)
    SELECT e.term, CAST(e.exact_ct AS BIGINT) AS exact_ct,
           TRUE AS in_sketch, TRUE AS bound_ok
    FROM exact e, tot
    WHERE e.exact_ct * {V136_K} > tot.n
    ORDER BY e.term
    """,
)
def v136_frequent_terms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import ensure_parallelism
    from flowbyte_spark.functions.hashing import words
    from flowbyte_spark.operators.sketches import frequent_items

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < V136_DOCS
    )
    terms = (
        ensure_parallelism(docs)
        .select(F.explode(words(F.lower(F.col("text")).cast("string"))).alias("term"))
        .where(F.col("term") != "")
    )
    n = terms.count()  # one scalar; N is part of the contract bound
    sketch = frequent_items(terms, "term", k=V136_K)
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_ct"))
    heavy = exact.where(F.col("exact_ct") * V136_K > n)
    return (
        heavy.join(sketch, heavy["term"] == sketch["item"], "left")
        .select(
            heavy["term"],
            F.col("exact_ct").cast("long").alias("exact_ct"),
            F.col("est").isNotNull().alias("in_sketch"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_ct"))
                & (F.col("est") >= F.col("exact_ct") - F.floor(F.lit(n) / V136_K))
            ).alias("bound_ok"),
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# V137 — incremental DISTINCT-count maintenance via mergeable HLL
# sketch state (Spark 4 Datasketches functions).  COUNT DISTINCT is not
# group-homomorphic (v118's signed partials can't maintain it), but its
# SKETCH is: per-load `hll_sketch_agg` states union exactly
# (register-wise max — set-semantics, insertion-order independent), so
# a 100 TB pipeline keeps one sketch row per (group, load) and answers
# "distinct users to date" with a union of sketch states — no fact
# rescan, ever.  Verified as the v37-pattern error contract: the merged
# estimate must sit within the documented HLL bound of DuckDB's exact
# recount; the booleans are deterministic because HLL state is a pure
# function of the input SET.
# ---------------------------------------------------------------------------
V137_LGK = 14  # 2^14 registers: rsd ~ 0.81% — bound below uses 5x that


@register(
    "v137_incremental_distinct_hll",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_dc,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def v137_incremental_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # two "loads" (deterministic halves) — each aggregated to one HLL
    # state row per group, as an incremental pipeline would persist them
    load_a = events.where(F.col("event_id") % 2 == 0)
    load_b = events.where(F.col("event_id") % 2 == 1)
    state_a = load_a.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(V137_LGK)).alias("sk")
    )
    state_b = load_b.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(V137_LGK)).alias("sk")
    )
    merged = (
        state_a.unionByName(state_b)
        .groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "event_type", F.hll_sketch_estimate("sk").alias("est")
        )
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_dc")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            F.col("exact_dc").cast("long").alias("exact_dc"),
            (
                F.abs(F.col("est") - F.col("exact_dc"))
                <= F.greatest(
                    F.col("exact_dc") * 0.0405,  # 5x rsd at lgK=14
                    F.lit(1.0),
                )
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )
