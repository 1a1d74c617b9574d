"""Round-11 verification queries (VERDICT r10 "next round" items):

- V124 incremental MIN/MAX maintenance — the targeted-recompute path
  ``operators/incremental.py`` hands off to for non-invertible
  measures: inserts merge algebraically, only extremum-hit groups
  re-aggregate against a semi-join-filtered fact read.  Gated against
  DuckDB's full recompute of the post-delta snapshot.
- V125 streaming session windows — the one §2.9 shape previously only
  gated through its batch twin (v41) now executed as a real
  multi-micro-batch stream.
- V126 type-widening schema evolution — the int→long / float→double
  epoch-drift path v123's column-add case left uncovered.
- V127 prefix-filtered sparse cosine pairs — the documented 100 TB
  extension of v122's inverted-index join (index only each doc's
  top-weight terms; provably recall-lossless at the threshold).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.queries import register
from flowbyte_spark.queries.session_q import SESSION_GAP_MIN


# ---------------------------------------------------------------------------
# V124 — incremental MIN/MAX maintenance (targeted recompute).
# Same CDC delta as v118 (deletes: keys %13 = 0; inserts: re-keyed
# copies of %17 = 0) so the two rows document the same pipeline's
# invertible and non-invertible legs side by side.  At sf0.01 the
# deletes hit per-priority extremum rows, so the recompute path
# genuinely fires; the safe path covers the rest.
# ---------------------------------------------------------------------------
@register(
    "v124_incremental_minmax",
    oracle="""
    WITH post AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000000 AS o_orderkey,
               o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 2) AS min_price,
           ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2) AS max_price
    FROM post
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def v124_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority MIN/MAX of order totals maintained through a CDC
    delta WITHOUT a full fact rescan: the state merges the insert leg
    with least/greatest, and only groups whose deletes tie a current
    extremum re-aggregate over a broadcast-semi-filtered read of the
    post-delta fact (operators/incremental.py:incremental_minmax_update).
    The oracle recomputes the post-delta snapshot from scratch, so the
    gate proves targeted-recompute == rescan."""
    from flowbyte_spark.operators.incremental import (
        incremental_minmax_update,
        minmax_state,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    state = minmax_state(orders, ["o_orderpriority"], ["o_totalprice"])
    deletes = orders.where(F.col("o_orderkey") % 13 == 0)
    inserts = orders.where(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey",
        F.col("o_orderkey").cast("long") + F.lit(1_000_000_000_000),
    )
    post = orders.where(F.col("o_orderkey") % 13 != 0).unionByName(inserts)
    new_state = incremental_minmax_update(
        state, post, inserts, deletes, ["o_orderpriority"], ["o_totalprice"]
    )
    return new_state.select(
        "o_orderpriority",
        F.col("__cnt__").alias("n_orders"),
        F.round(F.col("min_o_totalprice").cast("double"), 2).alias(
            "min_price"
        ),
        F.round(F.col("max_o_totalprice").cast("double"), 2).alias(
            "max_price"
        ),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# V125 — session windows executed as a REAL multi-micro-batch stream
# (v41 gates the batch twin; this closes the one §2.9 shape never run
# as a stream — VERDICT r10 #6).
#
# Three deterministic micro-batches (mtime-pinned files, the v60
# idiom): two halves of the events table, then one far-future sentinel.
# Session state must MERGE across batches — an event in batch 2 that
# falls inside (or within the gap of) a batch-1 session extends it, so
# batch-local sessionization would split sessions and mismatch the
# hash.  Append mode only emits a session once the watermark passes its
# end; on a bounded availableNow run the tail sessions would stay
# stranded in state, so the sentinel (one event at max(ts) + 3651 days
# against a 3650-day watermark delay) pushes the final watermark one
# day past every real session's end, flushing all of them.  The
# sentinel's own open session is never emitted; the sink filter drops
# its user anyway.  Oracle = the gaps-and-islands construction (v41's),
# plus session_end = last event + gap, which is F.session_window's end.
# ---------------------------------------------------------------------------
@register(
    "v125_stream_session_window",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def v125_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.queries.streaming_q import _drain_to_parquet, _memo_source
    from flowbyte_spark.streaming import read_event_stream, session_window_agg

    def build(path: str) -> None:
        events = load_table(spark, sf_dir, "events")
        max_ts = events.agg(F.max("ts")).first()[0]
        half1 = events.where(F.col("event_id") % 2 == 0)
        half2 = events.where(F.col("event_id") % 2 == 1)
        sentinel = spark.range(1).select(
            F.lit(-1).cast("bigint").alias("event_id"),
            (
                F.lit(max_ts).cast("timestamp")
                + F.expr("INTERVAL 3651 DAYS")
            ).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        pinned: set[str] = set()
        for i, batch in enumerate([half1, half2, sentinel]):
            batch.select(*cols).coalesce(1).write.mode("append").parquet(path)
            for f in glob.glob(path + "/*.parquet"):
                if f not in pinned:
                    os.utime(f, (1700000000.0 + 100 * i,) * 2)
                    pinned.add(f)

    src = _memo_source("v125_events", sf_dir, build)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    agg = session_window_agg(
        stream, gap=f"{SESSION_GAP_MIN} minutes", watermark="3650 days"
    )
    return (
        _drain_to_parquet(agg, "v125", "append")
        .where(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# V126 — TYPE-WIDENING schema evolution (VERDICT r10 #5: v123 gates the
# column-add path; type drift has a different failure mode — mergeSchema
# hard-errors, proven in tests/test_evolved.py — so it needs its own
# reader AND its own gate).  Epoch 1 wrote c_custkey as INT and
# c_acctbal as FLOAT; epoch 2 widened both (BIGINT/DOUBLE) and added
# c_mktsegment.  read_evolved_widening reads each epoch at its native
# physical schema and conforms to the widened union; the oracle
# recreates both epochs with the same REAL→DOUBLE round-trip, so any
# cast-semantics drift between the engines would hash-mismatch.
# ---------------------------------------------------------------------------
@register(
    "v126_schema_widening",
    oracle="""
    WITH e1 AS (
        SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_name,
               CAST(c_acctbal AS REAL) AS bal_f
        FROM customer WHERE c_custkey % 2 = 0),
    e2 AS (
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 1),
    un AS (
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
               CAST(bal_f AS DOUBLE) AS c_acctbal,
               CAST(NULL AS VARCHAR) AS c_mktsegment
        FROM e1
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM e2)
    SELECT COALESCE(c_mktsegment, '<pre-evolution>') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 2)
               AS sum_bal
    FROM un
    GROUP BY 1
    ORDER BY 1
    """,
)
def v126_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import dec_sum
    from flowbyte_spark.queries.streaming_q import _memo_source
    from flowbyte_spark.sources.evolved import read_evolved_widening

    cust = load_table(spark, sf_dir, "customer")

    def build(path: str) -> None:
        cust.where(F.col("c_custkey") % 2 == 0).select(
            F.col("c_custkey").cast("int").alias("c_custkey"),
            "c_name",
            F.col("c_acctbal").cast("float").alias("c_acctbal"),
        ).write.parquet(path + "/epoch1")
        cust.where(F.col("c_custkey") % 2 == 1).select(
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "c_mktsegment",
        ).write.parquet(path + "/epoch2")

    base = _memo_source("v126_epochs", sf_dir, build)
    df = read_evolved_widening(
        spark, [base + "/epoch1", base + "/epoch2"]
    )
    return (
        df.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("<pre-evolution>")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum("c_acctbal", "sum_bal"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# V127 — PREFIX-FILTERED sparse cosine pairs (VERDICT r10 #7: the
# documented 100 TB extension of v122, now implemented —
# operators/tfidf.py:prefix_index).  Terms are word TRIGRAMS: the
# fixture's unigram vocabulary is 31 terms shared by ~2/3 of docs
# (degenerate for any posting-list method — v122's df cap is the right
# valve there); shingling inflates it to ~16k terms with df <= 7, the
# realistic sparse regime, where the prefix filter cuts distinct
# candidate pairs 13 985 -> 106 at threshold 0.7 (measured sf0.01,
# BASELINE.md §Round-11).  The oracle runs the FULL quadratic
# computation over the same trigrams — the hash match IS the
# recall-losslessness proof at fixture scale (the general property is
# tested in tests/test_tfidf.py).
# ---------------------------------------------------------------------------
_V127_LIMIT = 1000
_V127_THRESHOLD = 0.7


@register(
    "v127_prefix_cosine_pairs",
    oracle=f"""
    WITH docs AS (SELECT doc_id AS id, string_split(text, ' ') AS ts
                  FROM documents WHERE doc_id < {_V127_LIMIT}),
    terms AS (SELECT id,
                     unnest(list_transform(range(1, len(ts) - 1),
                            i -> ts[i] || '_' || ts[i+1] || '_' || ts[i+2]))
                         AS term
              FROM docs WHERE len(ts) >= 3),
    tf AS (SELECT id, term, COUNT(*) AS tf FROM terms GROUP BY id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    w AS (SELECT id, tf.term,
                 tf.tf * (ln(((SELECT COUNT(*) FROM docs) + 1.0)
                             / (dfreq.df + 1.0)) + 1.0) AS w
          FROM tf JOIN dfreq USING (term)),
    norms AS (SELECT id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY id),
    dots AS (SELECT a.id AS id1, b.id AS id2, SUM(a.w * b.w) AS dot
             FROM w a JOIN w b USING (term)
             WHERE a.id < b.id GROUP BY 1, 2)
    SELECT id1, id2,
           FLOOR((dot / (n1.nrm * n2.nrm)) * 10000 + 0.5) / 10000 AS sim
    FROM dots JOIN norms n1 ON id1 = n1.id JOIN norms n2 ON id2 = n2.id
    WHERE FLOOR((dot / (n1.nrm * n2.nrm)) * 10000 + 0.5) / 10000
          >= {_V127_THRESHOLD}
    ORDER BY id1, id2
    """,
)
def v127_prefix_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.tfidf import sparse_cosine_pairs

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _V127_LIMIT
    )
    n_docs = docs.count()  # idf's N counts ALL docs (oracle's docs CTE)
    toks = F.split(F.col("text"), " ")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            "_",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    # Docs under 3 tokens have no trigrams and must DROP OUT, exactly
    # like the oracle's `WHERE len(ts) >= 3`: shingling them to '' would
    # tokenize back to a phantom ''-term shared by every short doc
    # (pairing them all at sim 1.0 — code-review r11 finding).
    shingled = docs.where(F.size(toks) >= 3).select(
        "doc_id", F.array_join(tri, " ").alias("text")
    )
    return sparse_cosine_pairs(
        shingled,
        "doc_id",
        "text",
        threshold=_V127_THRESHOLD,
        n_docs=n_docs,
        prefix_filter=True,
    ).orderBy("id1", "id2")


# ---------------------------------------------------------------------------
# V128 — TPC-H Q17 shape: correlated scalar-AVG subquery (the
# fractional-threshold class; v114 covers the MAX class).  Runs as
# literal SQL so Catalyst decorrelates the per-part average into an
# aggregate + join — asserted in tests/test_round11.py.  Quantities are
# integer-valued doubles, so the 0.2*AVG threshold is deterministic
# across engines (exact integer sum / n, same double ops).
# ---------------------------------------------------------------------------
_V128_BRANDS = "'Brand#12', 'Brand#14', 'Brand#16'"

_V128_SQL = f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6)))
                      AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM {{lineitem}} l JOIN {{part}} p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ({_V128_BRANDS})
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM {{lineitem}} l2 WHERE l2.l_partkey = p.p_partkey)
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


@register(
    "v128_q17_small_quantity",
    oracle=_V128_SQL.format(lineitem="lineitem", part="part"),
)
def v128_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: revenue from lines whose quantity is under 20% of the
    part's average order quantity, per brand.  The correlated scalar
    AVG must decorrelate to one per-part aggregate joined back — not a
    per-row subquery rerun (plan-asserted)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "fb128_lineitem"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("fb128_part")
    return spark.sql(
        _V128_SQL.format(lineitem="fb128_lineitem", part="fb128_part")
    )


# ---------------------------------------------------------------------------
# V129 — overlapping token-window chunking (the RAG/LLM ingest
# primitive: split each document into fixed-size token windows with
# stride overlap so no boundary context is lost).  Declared semantics:
# chunk starts at token offsets 1, 1+stride, ... <= n_tokens; the tail
# chunk may be short; every token lands in >= 1 chunk.  Pure codegen —
# split once, explode the start-offset sequence, slice per row; the
# explode is the only row amplification (~n_tokens/stride per doc) and
# there is NO shuffle at all.
# ---------------------------------------------------------------------------
_V129_CHUNK = 32
_V129_STRIDE = 24


@register(
    "v129_doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    chunks AS (
        SELECT doc_id, ts,
               unnest(generate_series(1, len(ts), {_V129_STRIDE})) AS start
        FROM t)
    SELECT doc_id,
           CAST((start - 1) / {_V129_STRIDE} AS BIGINT) AS chunk_id,
           CAST(LEAST(start + {_V129_CHUNK} - 1, len(ts)) - start + 1
                AS BIGINT) AS n_tokens,
           array_to_string(ts[start: LEAST(start + {_V129_CHUNK} - 1, len(ts))],
                           ' ') AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def v129_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    chunked = (
        docs.select(F.col("doc_id"), toks.alias("ts"))
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.sequence(F.lit(1), F.size("ts"), F.lit(_V129_STRIDE))
            ).alias("start"),
        )
        .select(
            "doc_id",
            (
                (F.col("start") - 1) / F.lit(_V129_STRIDE)
            ).cast("long").alias("chunk_id"),
            F.slice("ts", F.col("start"), _V129_CHUNK).alias("chunk"),
        )
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# V130 — stream-stream FULL OUTER join: v81 inner, v119 left outer,
# this completes the family — unmatched rows on BOTH sides must emit
# null-padded once the watermark passes their window.  Same sentinel
# bounded-run flush as v119 (one far-future row per side, written as
# the LAST file so the watermark only jumps after every real row is
# in state).  Oracle = the batch FULL JOIN twin.
# ---------------------------------------------------------------------------
@register(
    "v130_stream_full_outer_join",
    oracle="""
    SELECT v.event_id AS view_id,
           c.event_id AS click_id,
           COALESCE(v.user_id, c.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY view_id NULLS FIRST, click_id NULLS FIRST
    """,
)
def v130_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.queries.streaming_q import (
        _drain_to_parquet,
        _memo_source,
        _write_events_then_sentinels,
    )
    from flowbyte_spark.streaming import read_event_stream, stream_stream_outer_join

    def build(path: str) -> None:
        events = load_table(spark, sf_dir, "events")
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        sentinels = spark.createDataFrame(
            [
                (-1, -999901, "view", 0.0, "{}"),
                (-2, -999902, "click", 0.0, "{}"),
            ],
            "event_id long, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
        _write_events_then_sentinels(path, events, sentinels, cols)

    src = _memo_source("v130_events", sf_dir, build)
    views = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "view"
    )
    clicks = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "click"
    )
    joined = stream_stream_outer_join(
        views, clicks, key="user_id", max_delay="30 minutes", how="full_outer"
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
    )
    return (
        _drain_to_parquet(joined, "v130", "append")
        .where(
            (F.col("view_id").isNull() | (F.col("view_id") >= 0))
            & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        )
        .orderBy(
            F.col("view_id").asc_nulls_first(),
            F.col("click_id").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# V131 — ZERO-EXCHANGE aggregation on the bucketed source (v112 proves
# the shuffle-free JOIN; this pins the other half of what a bucketed
# layout buys at 100 TB: any aggregate keyed by the bucket key — or by
# a SUPERSET of it, since hashpartitioning on a subset of the groupBy
# keys satisfies the clustering requirement — runs with NO exchange at
# all).  The only Exchange in the whole plan is the final presentation
# sort's range partitioning, asserted in tests/test_round11.py.
# ---------------------------------------------------------------------------
@register(
    "v131_bucketed_agg",
    oracle=f"""
    SELECT o_custkey, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {{dsum}} AS sum_price
    FROM orders
    GROUP BY o_custkey, o_orderstatus
    ORDER BY o_custkey, o_orderstatus
    """.format(
        dsum="ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) "
        "AS DOUBLE), 2)"
    ),
)
def v131_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import dec_sum
    from flowbyte_spark.queries.relational4 import bucketed_pair

    orders, _ = bucketed_pair(spark, sf_dir)
    return (
        orders.groupBy("o_custkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "sum_price"),
        )
        .orderBy("o_custkey", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# V132 — CHAINED stateful streaming operators: a stream-stream inner
# join feeding a tumbling-window aggregation in ONE streaming query
# (Spark 4 multi-stateful-operator support; v81/v119/v130 end at the
# join, v32/v59 start at the agg — this pins the composition, which is
# what a production clickstream pipeline actually runs).  Watermark is
# 3650 days (the v32 trick): during the real micro-batches nothing is
# late and no window finalizes early — deterministic regardless of how
# the file split lands — and the far-future sentinel pair (which joins
# nothing) pushes the final watermark past every real window + the
# join delay, flushing both operators' state.  Oracle = the batch
# join→window twin.
# ---------------------------------------------------------------------------
@register(
    "v132_stream_join_window",
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
def v132_stream_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.queries.streaming_q import (
        _drain_to_parquet,
        _memo_source,
        _write_events_then_sentinels,
    )
    from flowbyte_spark.streaming import read_event_stream, stream_stream_join

    def build(path: str) -> None:
        events = load_table(spark, sf_dir, "events")
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        sentinels = spark.createDataFrame(
            [
                (-1, -999901, "view", 0.0, "{}"),
                (-2, -999902, "click", 0.0, "{}"),
            ],
            "event_id long, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
        # Two sentinel files: the self-joining sources advance their
        # file cursors independently, and the chained window aggregate
        # needs one batch AFTER both sources' watermark nodes have seen
        # a sentinel (helper docstring has the root cause).
        _write_events_then_sentinels(
            path, events, sentinels, cols, sentinel_copies=2
        )

    src = _memo_source("v132_events", sf_dir, build)
    views = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "view"
    )
    clicks = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "click"
    )
    # The sentinel rows join nothing (disjoint negative user ids per
    # side), so no sentinel guard is needed after the INNER join — and
    # one must NOT be added: a `l.event_id >= 0` filter here gets
    # pushed down into the views source scan, whose parquet row-group
    # stats then SKIP the sentinel file, the views watermark node never
    # sees ts=2100, and the global watermark (min across nodes) stays
    # behind every window forever — zero rows ever emit (root-caused
    # r11 with per-source progress offsets).
    joined = stream_stream_join(
        views, clicks, "user_id", max_delay="30 minutes", watermark="3650 days"
    )
    agg = (
        joined.groupBy(F.window(F.col("l.ts"), "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "n_pairs",
        )
    )
    return _drain_to_parquet(agg, "v132", "append").orderBy("hour_ts")
