"""V32 — streaming verification query: an actual Structured Streaming job
whose final state must equal the batch twin (and therefore the same DuckDB
oracle as the batch time-bucket query V15).

The events fixture is re-materialized into scratch as 2 files → 2
deterministic micro-batches (the first proves incremental state, the
second the final answer; deeper 4-batch/late-data scenarios live in
tests/test_streaming.py); the tumbling-window aggregation runs with
``availableNow`` and complete output mode; the final batch is the answer.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.queries import register
from flowbyte_spark.queries.tier_a import _scratch_dir
from flowbyte_spark.streaming import read_event_stream, tumbling_window_agg

# Stream-SOURCE directories memoized per (variant, sf_dir) for the
# session.  The scratch source is harness scaffolding — the nanos-typed
# fixture re-materialized as micros stream files in a deterministic batch
# layout — not the operator under test (the oracle reads the fixture
# directly), so rebuilding it every run only adds measurement noise.
# Checkpoints are NEVER memoized: a reused checkpoint marks the source
# files already-processed and the stream would drain zero batches.
_SRC_MEMO: dict[tuple[str, str], str] = {}


def _memo_source(key: str, sf_dir: str, build) -> str:
    k = (key, sf_dir)
    path = _SRC_MEMO.get(k)
    if path and os.path.isdir(path):
        return path
    path = _scratch_dir(key)
    build(path)
    _SRC_MEMO[k] = path
    return path


def _write_events_then_sentinels(
    path: str,
    events,
    sentinels,
    cols: list[str],
    parts: int = 2,
    sentinel_copies: int = 1,
) -> None:
    """Write a file-stream source whose watermark-flush sentinels are
    guaranteed to be the LAST files the source processes.

    FileStreamSource lists oldest-mtime-first; a far-future sentinel
    seen in an EARLY micro-batch jumps the global watermark past every
    real event and later batches are silently dropped as late (ADVICE
    r10).  So the real events land first (``parts`` files → that many
    real micro-batches at maxFilesPerTrigger=1), then the sentinel rows
    go into their own file with mtime bumped an hour into the future —
    listing order is pinned, not an accident of filesystem timing.

    ``sentinel_copies`` writes the sentinel file N times with strictly
    increasing future mtimes.  Two+ copies matter when TWO stream
    sources read the same directory (a self-join): each source advances
    its file cursor independently, so source A can see the sentinel one
    batch before source B — the GLOBAL watermark (min across watermark
    nodes) only jumps once both have, and a downstream stateful
    operator needs one further batch after the jump to run its eviction
    / final-emission pass.  A second sentinel file guarantees that
    trailing batch exists (root-caused in v132: with one copy the run
    ended the batch the watermark jumped, and zero windows ever
    emitted).  Shared by v119/v130/v132."""
    import glob as _glob
    import time as _time

    events.select(*cols).repartition(parts).write.parquet(path)
    future = _time.time() + 3600
    for i in range(sentinel_copies):
        before = set(_glob.glob(os.path.join(path, "*.parquet")))
        sentinels.select(*cols).coalesce(1).write.mode("append").parquet(path)
        stamp = future + 60 * i
        for f in set(_glob.glob(os.path.join(path, "*.parquet"))) - before:
            os.utime(f, (stamp, stamp))


def _drain(stream: DataFrame, name: str, output_mode: str, write) -> None:
    """Run ``stream`` over everything available through the foreachBatch
    function ``write``, on a fresh scratch checkpoint that is deleted
    afterwards, also when the run fails.

    State width: a stream's state-store partition count freezes from
    ``spark.sql.shuffle.partitions`` when its fresh checkpoint is
    initialized.  These queries hold a few dozen live keys or windows
    (~25 hourly windows inside v60's 1 h watermark horizon), so the run
    is scoped to 4 state partitions — see scoped_sql_conf's docstring
    for the 100 TB framing.  Reads after the run use the restored
    engine width.

    The streaming functions are looked up on the module at call time, so
    a wrapper patched onto ``flowbyte_spark.streaming.run_available_now``
    (the benchmark's span) sees every trigger.
    """
    from flowbyte_spark import streaming

    ckpt = _scratch_dir(f"{name}_ckpt")
    writer = streaming.foreach_batch_sink(
        stream, write, checkpoint=ckpt, output_mode=output_mode
    )
    try:
        with streaming.scoped_sql_conf(
            stream.sparkSession, **{"spark.sql.shuffle.partitions": "4"}
        ):
            streaming.run_available_now(writer)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _drain_to_parquet(stream: DataFrame, name: str, output_mode: str) -> DataFrame:
    """:func:`_drain` into a scratch parquet sink; returns the sink read back.

    The sink's write mode follows the output mode: a ``complete`` batch
    holds the whole result and overwrites the sink, so it ends holding
    the final state; ``append`` batches hold only finalized rows and
    accumulate; ``update`` batches re-emit the current rows of the keys
    they touch and are appended with a ``batch_id`` column, so the reader
    keeps the latest per key.  Nothing is collected on the driver — the
    result stays a lazy parquet read at any output cardinality.
    """
    out = _scratch_dir(f"{name}_result")
    mode = "overwrite" if output_mode == "complete" else "append"

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if output_mode == "update":
            batch_df = batch_df.withColumn("batch_id", F.lit(batch_id))
        batch_df.write.mode(mode).parquet(out)

    _drain(stream, name, output_mode, write)
    return stream.sparkSession.read.parquet(out)


_V15_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@register("v32_streaming_window", oracle=_V15_ORACLE)
def v32_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Re-materialize with microsecond timestamps (the raw fixture is
    # nanos-typed parquet, which the file-stream source cannot consume).
    src = _memo_source(
        "v32_events",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(2)
        .write.parquet(p),
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream, "1 hour", watermark="3650 days")
    return _drain_to_parquet(agg, "v32", "complete").orderBy(
        "hour_ts", "event_type"
    )


# ---------------------------------------------------------------------------
# V59 — sliding-window streaming aggregation (2 h window / 1 h slide).
# Every event lands in exactly two overlapping windows, so the oracle is a
# union-all of the hour-truncated and hour-shifted copies of the table.
# ---------------------------------------------------------------------------
_V59_ORACLE = """
    WITH w AS (
        SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_value
    FROM w
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@register("v59_sliding_window", oracle=_V59_ORACLE)
def v59_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _memo_source(
        "v59_events",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(2)
        .write.parquet(p),
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    agg = tumbling_window_agg(
        stream, "2 hours", watermark="3650 days", slide="1 hour"
    )
    return _drain_to_parquet(agg, "v59", "complete").orderBy(
        "hour_ts", "event_type"
    )


# ---------------------------------------------------------------------------
# V60 — watermark late-data drop, proven end-to-end in append mode.
#
# Three deterministic micro-batches (file mtimes force the order):
#   1. the full events table — the watermark computed from it (max(ts)−1 h)
#      takes effect next batch
#   2. one sentinel event at max(ts) + 3 h — its batch runs with the
#      batch-1 watermark, finalizing + EVICTING every window ending before
#      max(ts) − 1 h (the bulk), and its own timestamp advances the
#      watermark past the end of every real window
#   3. replays of stale rows (ts < max(ts) − 3 h) — their windows were all
#      evicted in batch 2, so the aggregation MUST drop every one; if it
#      didn't, their windows would re-emit and the hash would mismatch.
#      This batch's eviction pass (sentinel-advanced watermark) also
#      finalizes the last real windows; the sentinel's own window is never
#      finalized and never emitted.
#
# Micro-batch eviction semantics this leans on (verified empirically):
# a late row merges into still-live state even when older than the
# watermark — rows are only dropped once their window's state was evicted
# in an EARLIER batch.  Hence the sentinel goes BEFORE the replays.
# Final appended output = plain batch aggregation of the events table (the
# same oracle as V15/V32), which is exactly the late-data-drop contract.
# ---------------------------------------------------------------------------
@register("v60_late_data_drop", oracle=_V15_ORACLE)
def v60_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    def _build(path: str) -> None:
        events = load_table(spark, sf_dir, "events")
        max_ts = events.agg(F.max("ts")).first()[0]
        stale = events.where(
            F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 3 HOURS")
        ).limit(2000)
        # One JVM-side row (range + literals), NOT createDataFrame([...]):
        # a list-backed local relation parallelizes into
        # defaultParallelism Python slices, and the coalesce(1) below
        # would compute all 32 of them SEQUENTIALLY in one task — one
        # Python-worker round-trip each, ~4.5 s of pure overhead for a
        # single sentinel row (measured).
        sentinel = spark.range(1).select(
            F.lit(-1).cast("bigint").alias("event_id"),
            (
                F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 3 HOURS")
            ).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        # FileStreamSource orders files by modification time: pin strictly
        # increasing mtimes per batch so the batch order is deterministic,
        # not filesystem-timing luck.
        pinned: set[str] = set()
        for i, batch in enumerate([events, sentinel, stale]):
            batch.coalesce(1).write.mode("append").parquet(path)
            for f in glob.glob(path + "/*.parquet"):
                if f not in pinned:
                    os.utime(f, (1700000000.0 + 100 * i,) * 2)
                    pinned.add(f)

    src = _memo_source("v60_events", sf_dir, _build)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    agg = tumbling_window_agg(stream, "1 hour", watermark="1 hour")
    return _drain_to_parquet(agg, "v60", "append").orderBy(
        "hour_ts", "event_type"
    )


# ---------------------------------------------------------------------------
# V73 — stateful streaming dedup across micro-batches.
# The scratch source holds the event table TWICE (two single-file writes →
# two deterministic micro-batches), so every second-batch row is an exact
# duplicate of a first-batch row and ``dropDuplicatesWithinWatermark``
# must carry key state ACROSS batches to suppress it — batch-local dedup
# would pass rows through and double the output.  The oracle is the batch
# twin: DISTINCT over the doubled table.
# ---------------------------------------------------------------------------
_V73_ORACLE = """
    SELECT event_id, user_id, event_type, value
    FROM (SELECT DISTINCT event_id, user_id, event_type, value
          FROM (SELECT * FROM events UNION ALL SELECT * FROM events))
    ORDER BY event_id
"""


@register("v73_stream_dedup", oracle=_V73_ORACLE)
def v73_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.streaming import dedup_within_watermark

    def _build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(1).write.parquet(path)  # batch 1: the originals
        ev.repartition(1).write.mode("append").parquet(path)  # batch 2: dupes

    src = _memo_source("v73_events", sf_dir, _build)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    deduped = dedup_within_watermark(
        stream, keys=["event_id"], watermark="3650 days"
    )
    # Append mode: each batch lands only its first-seen rows; the sink
    # accumulates exactly the distinct set.
    return (
        _drain_to_parquet(deduped, "v73", "append")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# V75 — arbitrary stateful streaming (applyInPandasWithState) under the
# hash gate: per-user running totals across 2 micro-batches, update-mode
# emissions appended per batch, final state = last emission per user.
# Exact integer-cent state makes the result independent of how rows split
# across batches — the property that lets a custom state machine be
# oracle-checked at all (the float variant rounds per batch and cannot).
# ---------------------------------------------------------------------------
_V75_USER_CAP = 300  # applyInPandasWithState pays ~ms per key per batch
# (Arrow group round-trip + state-store write); the gate verifies the
# state MACHINE — cross-batch accumulation, exact integer state — which a
# bounded key subset proves identically, so the bench constant stays
# O(cap), not O(all users), the same scoping call _drain makes for the
# state-store width.

_V75_ORACLE = f"""
    SELECT user_id,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS total
    FROM events
    WHERE user_id < {_V75_USER_CAP}
    GROUP BY user_id
    ORDER BY user_id
"""


@register("v75_stateful_totals", oracle=_V75_ORACLE)
def v75_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.topk import top_k_per_group
    from flowbyte_spark.streaming.stateful import running_user_totals_exact

    src = _memo_source(
        "v75_events",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < _V75_USER_CAP)
        .repartition(2)
        .write.parquet(p),
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    totals = running_user_totals_exact(stream, watermark="3650 days")
    # Update mode re-emits a user's CURRENT totals whenever a batch
    # touches them; keep the latest emission per user.
    latest = top_k_per_group(
        _drain_to_parquet(totals, "v75", "update"),
        ["user_id"],
        [F.col("batch_id").desc()],
        k=1,
    )
    return latest.select("user_id", "cnt", "total").orderBy("user_id")


# ---------------------------------------------------------------------------
# V76 — streaming upsert (CDC-style): a delta stream merged into a managed
# table per micro-batch via the reference's update_by_keys semantics.
# Two disjoint-key delta files → two batches; the second merge must
# PRESERVE the first's writes through the temp-write-swap protocol, or
# the final table hash breaks.  This is the streaming twin of the
# reference's core update_data loop (sql.py:191-249) — exactly what its
# users run today as scheduled ETL, re-expressed as foreachBatch.
# ---------------------------------------------------------------------------
_V76_ORACLE = """
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0
                WHEN c_custkey % 10 = 7 THEN c_acctbal + 200.0
                ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 10 = 3 THEN 'STREAM_A'
                WHEN c_custkey % 10 = 7 THEN 'STREAM_B'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer ORDER BY c_custkey
"""

_V76_DELTA_SCHEMA = "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING"


@register("v76_stream_upsert", oracle=_V76_ORACLE)
def v76_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.mutate import ParquetTable

    # The managed TABLE must be fresh per run (each merge mutates it);
    # only the delta stream files are memoizable scaffolding.
    tbl_path = _scratch_dir("v76_customer")
    customer = load_table(spark, sf_dir, "customer")
    customer.write.parquet(tbl_path)
    table = ParquetTable(spark, tbl_path)

    def _build(path: str) -> None:
        def delta(mod: int, bump: float, seg: str):
            return customer.where(F.col("c_custkey") % 10 == mod).select(
                "c_custkey",
                (F.col("c_acctbal") + bump).alias("c_acctbal"),
                F.lit(seg).alias("c_mktsegment"),
            )

        delta(3, 100.0, "STREAM_A").repartition(1).write.parquet(path)
        delta(7, 200.0, "STREAM_B").repartition(1).write.mode(
            "append"
        ).parquet(path)

    deltas = _memo_source("v76_deltas", sf_dir, _build)

    stream = (
        spark.readStream.schema(_V76_DELTA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(deltas)
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        table.update_by_keys(batch_df, ["c_custkey"])

    _drain(stream, "v76", "append", apply)
    return (
        table.read()
        .select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# V81 — stream-stream event-time join (view -> click attribution).
# Two file streams over the same 2-file scratch source (views / clicks
# split by event_type), inner-joined per user on a 30-minute event-time
# range.  With maxFilesPerTrigger=1 the files hash-split pairs across
# micro-batches, so a first-batch view must sit in join state until its
# click arrives in batch 2 — batch-local joining would lose those pairs
# and break the hash.  The horizon watermark makes the result independent
# of file order (state eviction itself is v60's proof); the oracle is the
# batch range-join twin.
# ---------------------------------------------------------------------------
_V81_ORACLE = """
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY view_id, click_id
"""


@register("v81_stream_stream_join", oracle=_V81_ORACLE)
def v81_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.streaming import stream_stream_join

    src = _memo_source(
        "v32_events",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(2)
        .write.parquet(p),
    )
    views = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "view"
    )
    clicks = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "click"
    )
    joined = stream_stream_join(
        views,
        clicks,
        key="user_id",
        max_delay="30 minutes",
        watermark="3650 days",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
        F.date_format("l.ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("r.ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias(
            "delay_us"
        ),
    )
    return _drain_to_parquet(joined, "v81", "append").orderBy(
        "view_id", "click_id"
    )


# ---------------------------------------------------------------------------
# V111 — stream-static join (round 9): enrich a real micro-batched event
# stream with a broadcast static dimension.  Stateless (no watermark, no
# state store): every micro-batch joins against the static side
# independently, so the appended union is batch-split-invariant and the
# oracle is the identical batch join.  The static side re-broadcasts per
# micro-batch — at 100 TB keep it dim-sized or pre-filter it.
# ---------------------------------------------------------------------------
@register(
    "v111_stream_static_join",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           CASE CAST(e.user_id % 3 AS INT) WHEN 0 THEN 'basic'
                WHEN 1 THEN 'plus' ELSE 'pro' END AS tier,
           e.event_type,
           ROUND(CAST(e.value AS DOUBLE), 4) AS value
    FROM events e
    WHERE e.event_type IN ('view', 'click')
    ORDER BY e.event_id
    """,
)
def v111_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _memo_source(
        "v32_events",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(2)
        .write.parquet(p),
    )
    # static user-tier dim, derived deterministically so DuckDB can
    # reproduce the enrichment with a CASE
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.element_at(
                F.array(F.lit("basic"), F.lit("plus"), F.lit("pro")),
                (F.col("user_id") % 3).cast("int") + 1,
            ).alias("tier"),
        )
    )

    stream = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type").isin("view", "click")
    )
    enriched = stream.join(F.broadcast(users), "user_id").select(
        "event_id",
        "user_id",
        "tier",
        "event_type",
        F.round(F.col("value").cast("double"), 4).alias("value"),
    )
    return _drain_to_parquet(enriched, "v111", "append").orderBy("event_id")
