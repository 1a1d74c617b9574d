"""V116-V123: round-10 additions, each with a hash oracle and an in-suite
differential in tests/test_llm2_oracle.py.

- V116 TPC-H Q22 shape (adapted to the fixture's customer columns —
  no c_phone, so nationkey stands in for the country code): an
  uncorrelated scalar-aggregate threshold plus a NOT EXISTS anti join.
  Reference anchor: delegated T-SQL EXISTS/NOT IN subqueries
  (src/flowbyte/sql.py:109).
- V117 batched IVF ANN: top-k per QUERY TABLE row in one plan
  (operators/similarity.py:ivf_topk_batch) — the production retrieval
  pass, vs v25's one-query probe.
- V118 incremental aggregate maintenance: a grouped count/sum state
  updated from a CDC delta with NO fact rescan
  (operators/incremental.py), gated against DuckDB's full recompute of
  the post-delta snapshot.
- V119 stream-stream LEFT OUTER join (sentinel-flushed bounded runs).
- V120/V121 AQE skew-join split and built-in Bloom runtime filter —
  value gates here, firing proofs + disabler controls in
  tests/test_skew_aqe.py.
- V122 sparse TF-IDF cosine near-dup pairs (inverted-index self-join).
- V123 schema-evolution read (mergeSchema + output-contract conform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.queries import register
from flowbyte_spark.queries.llm import _COS, _q4, IVF_CENTROIDS, IVF_NPROBE
from flowbyte_spark.queries.relational import _DSUM

# Q22's "country codes in the list" — six nation keys stand in for the
# phone prefixes the fixture lacks.
_V116_CODES = "1, 3, 5, 7, 9, 11"

# The positive-balance average threshold compares via exact cross-
# multiplication (bal * n > total) so no engine-ordered double AVG can
# flip a boundary customer.
_V116_SQL = f"""
    WITH active AS (
        SELECT c_custkey, c_nationkey,
               CAST(c_acctbal AS DECIMAL(38,6)) AS bal
        FROM {{customer}}
        WHERE c_nationkey IN ({_V116_CODES})
    ),
    pos AS (
        SELECT CAST(SUM(bal) AS DECIMAL(38,6)) AS s,
               COUNT(*) AS n
        FROM active WHERE bal > 0
    ),
    hot AS (
        SELECT a.c_nationkey, a.bal
        FROM active a, pos
        WHERE a.bal * pos.n > pos.s
          AND NOT EXISTS (
              SELECT 1 FROM {{orders}} o WHERE o.o_custkey = a.c_custkey
          )
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {_DSUM.format(x="bal")} AS totacctbal
    FROM hot
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""


@register(
    "v116_q22_idle_customers",
    oracle=_V116_SQL.format(customer="customer", orders="orders"),
)
def v116_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers in selected
    codes with NO orders.  Runs as literal SQL so Catalyst plans the
    NOT EXISTS as a genuine left-anti join and the scalar aggregate as
    a broadcast 1-row subquery result — both decorrelations asserted in
    tests/test_round10b.py."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "fb116_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("fb116_orders")
    return spark.sql(
        _V116_SQL.format(customer="fb116_customer", orders="fb116_orders")
    )


_V117_QIDS = "3, 11, 27, 44, 58"


@register(
    "v117_batched_ann",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}),
    v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
    scored AS (
        SELECT v.id, c.cid, v.vec,
               ROW_NUMBER() OVER (
                   PARTITION BY v.id
                   ORDER BY {_q4(_COS.format(a='v.vec', b='c.cvec'))} DESC, c.cid
               ) AS rn
        FROM v, c),
    assign AS (SELECT id, cid, vec FROM scored WHERE rn = 1),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id IN ({_V117_QIDS})),
    probed AS (
        SELECT qid, qv, cid FROM (
            SELECT q.qid, q.qv, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_q4(_COS.format(a='c.cvec', b='q.qv'))} DESC, c.cid
                   ) AS pr
            FROM q, c) t
        WHERE pr <= {IVF_NPROBE}),
    cand AS (
        SELECT p.qid, a.id,
               {_q4(_COS.format(a='a.vec', b='p.qv'))} AS sim
        FROM assign a JOIN probed p USING (cid)
        WHERE a.id <> p.qid)
    SELECT qid, id, sim FROM (
        SELECT qid, id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY sim DESC, id) AS rk
        FROM cand) t
    WHERE rk <= 5
    ORDER BY qid, sim DESC, id
    """,
)
def v117_batched_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF ANN: five query vectors resolved to top-5 neighbors
    each in ONE plan — broadcast centroids + probes, one fan-out join
    of the inverted lists, one per-qid window top-k.  DuckDB recomputes
    the identical deterministic quantizer, probe ranking and ADC."""
    from flowbyte_spark.operators.similarity import ivf_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [int(x) for x in _V117_QIDS.split(",")]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk_batch(
        emb,
        "vec_id",
        "embedding",
        queries,
        k=5,
        num_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
    ).orderBy("qid", F.col("sim").desc(), "id")


@register(
    "v118_incremental_agg",
    oracle=f"""
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
           {_DSUM.format(x="o_totalprice")} AS sum_price
    FROM post
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def v118_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-priority (count, sum)
    state is built once from the base fact, then updated from a CDC
    delta (deletes: keys %13=0; inserts: re-keyed copies of %17=0)
    WITHOUT rescanning the fact — merge of signed per-group partials
    (operators/incremental.py).  The oracle recomputes the post-delta
    snapshot from scratch, so the gate proves state+delta == rescan.
    Exact-decimal sums make merge order irrelevant; rounding happens
    only at output."""
    from flowbyte_spark.operators.incremental import agg_state, incremental_update

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    state = agg_state(orders, ["o_orderpriority"], ["o_totalprice"])
    deletes = orders.where(F.col("o_orderkey") % 13 == 0)
    inserts = orders.where(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey",
        F.col("o_orderkey").cast("long") + F.lit(1_000_000_000_000),
    )
    new_state = incremental_update(
        state, inserts, deletes, ["o_orderpriority"], ["o_totalprice"]
    )
    return new_state.select(
        "o_orderpriority",
        F.col("__cnt__").alias("n_orders"),
        F.round(F.col("sum_o_totalprice").cast("double"), 2).alias(
            "sum_price"
        ),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# V119 — stream-stream LEFT OUTER join.  v81 covers the inner form;
# outer adds the watermark-driven null-padded emission (an unmatched
# view surfaces only once the global watermark passes its match
# window).  A bounded availableNow run would strand the tail's
# unmatched rows in state — the sentinel pattern closes that: one
# far-future event per side (keys that match nothing) pushes the final
# watermark past every real row's expiry, and the sink filters the
# sentinels out.  Result == the batch left join, which IS the oracle.
# ---------------------------------------------------------------------------
@register(
    "v119_stream_outer_join",
    oracle="""
    SELECT v.event_id AS view_id,
           c.event_id AS click_id,
           v.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY view_id, click_id
    """,
)
def v119_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
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

    src = _memo_source("v119_events", sf_dir, build)
    views = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "view"
    )
    clicks = read_event_stream(spark, src, max_files_per_trigger=1).where(
        F.col("event_type") == "click"
    )
    joined = stream_stream_outer_join(
        views, clicks, key="user_id", max_delay="30 minutes"
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
        F.col("l.user_id").alias("user_id"),
    )
    return (
        _drain_to_parquet(joined, "v119", "append")
        .where(F.col("view_id") >= 0)
        .orderBy("view_id", "click_id")
    )


# ---------------------------------------------------------------------------
# V120 — a deliberately skewed join: 80% of the fact collapses onto one
# key.  The VALUE gate is the DuckDB hash-match below; the SCALE gate —
# AQE's OptimizeSkewedJoin actually splitting the hot partition, and
# the two silent disablers that stop it (default 256 MB threshold at
# fixture scale; broadcast conversion beating the skew rule) — lives in
# tests/test_skew_aqe.py, the v102/v103 proof split.  The salted family
# (v85/v86/v94-v96) is the MANUAL skew toolkit; this row pins the
# AUTOMATIC path a 1000-executor job leans on first.
# ---------------------------------------------------------------------------
@register(
    "v120_skewed_join_agg",
    oracle="""
    WITH f AS (
        SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                    ELSE l_orderkey % 97 END AS sk,
               l_extendedprice, l_discount
        FROM lineitem),
    d AS (SELECT UNNEST(range(0, 97)) AS sk)
    SELECT CAST(sk % 5 AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM f JOIN d USING (sk)
    GROUP BY 1
    ORDER BY 1
    """,
)
def v120_skewed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import dec_sum, ensure_parallelism

    # The skew splitter divides a hot REDUCE partition along MAPPER
    # boundaries — a single-file fixture scan is one mapper, so the hot
    # partition is one indivisible chunk and the rule reports zero skew
    # (the fourth silent disabler; at 100 TB a scan is thousands of
    # mappers and this never arises).  Fan the scan out first, exactly
    # what the real job's scan parallelism provides for free.
    li = ensure_parallelism(
        load_table(spark, sf_dir, "lineitem").select(
            F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
            .otherwise(F.col("l_orderkey") % 97)
            .alias("sk"),
            "l_extendedprice",
            "l_discount",
        )
    )
    # Static key dim, NOT derived-by-distinct from the fact: the skew
    # rule only rewrites joins whose children are plain sort+shuffle
    # reads — an aggregate between the dim's exchange and the join
    # disqualifies the rewrite (a third silent disabler, control-tested
    # alongside the broadcast one).
    dim = spark.range(97).select(F.col("id").alias("sk"))
    # merge hint: the skew rule only applies to sort-merge joins — at
    # fixture scale AQE would otherwise broadcast the 97-row dim and
    # the query would prove nothing (disabler control-tested).
    return (
        li.hint("merge")
        .join(dim, "sk")
        .groupBy((F.col("sk") % 5).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# V121 — Spark's BUILT-IN Bloom-filter runtime filter (the automatic
# twin of v105's manual semi-join reduction): with the injection
# thresholds met, Catalyst plants bloom_filter_might_contain on the
# fact's scan side, built from the filtered dim.  Identity rewrite, so
# the oracle is the plain join; the injection proof + the
# threshold-disabler control live in tests/test_skew_aqe.py.
# ---------------------------------------------------------------------------
@register(
    "v121_bloom_filter_join",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2)
               AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size = 1
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def v121_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") == 1)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum("l_quantity", "total_qty"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# V122 — sparse TF-IDF cosine near-dup pairs via an inverted-index
# self-join (operators/tfidf.py:sparse_cosine_pairs).  The lexical twin
# of the dense embedding family: MinHash finds shingle overlap, SRP
# finds embedding proximity, this finds weighted-vocabulary overlap —
# and like them it never goes all-pairs (documents meet only through
# shared terms; the df cap bounds fan-out AND is the posting-list skew
# valve).  Doc scope capped like v38 so the oracle's self-join stays
# fixture-sized; the operator itself takes the full corpus.
# ---------------------------------------------------------------------------
_V122_LIMIT = 1000


@register(
    "v122_sparse_cosine_pairs",
    oracle=f"""
    WITH docs AS (SELECT doc_id AS id, text FROM documents
                  WHERE doc_id < {_V122_LIMIT}),
    terms AS (SELECT id, unnest(string_split(text, ' ')) AS term FROM docs),
    tf AS (SELECT id, term, COUNT(*) AS tf FROM terms GROUP BY id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term
              HAVING COUNT(*) <= GREATEST((SELECT COUNT(*) FROM docs) // 10, 1)),
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
    WHERE FLOOR((dot / (n1.nrm * n2.nrm)) * 10000 + 0.5) / 10000 >= 0.5
    ORDER BY id1, id2
    """,
)
def v122_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.operators.tfidf import sparse_cosine_pairs

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _V122_LIMIT
    )
    n_docs = docs.count()  # one scan serves BOTH the df cap and idf's N
    return sparse_cosine_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        max_df=max(n_docs // 10, 1),
        n_docs=n_docs,
    ).orderBy("id1", "id2")


# ---------------------------------------------------------------------------
# V123 — schema-evolution read (sources/evolved.py): two parquet epochs
# of the same logical table, the newer one carrying an added column,
# read as ONE DataFrame (mergeSchema) and conformed to the target
# contract (missing column -> NULL).  DuckDB recreates the identical
# epochs from `customer` directly, so the gate checks the union
# semantics, the NULL fill AND the contracted types.
# ---------------------------------------------------------------------------
@register(
    "v123_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT c_custkey, c_name, c_acctbal,
               CAST(NULL AS VARCHAR) AS c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 1
    )
    SELECT COALESCE(c_mktsegment, '<pre-evolution>') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 2)
               AS sum_bal
    FROM unioned
    GROUP BY 1
    ORDER BY 1
    """,
)
def v123_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flowbyte_spark.functions import dec_sum
    from flowbyte_spark.queries.streaming_q import _memo_source
    from flowbyte_spark.sources.evolved import conform, read_evolved

    cust = load_table(spark, sf_dir, "customer")

    def build(path: str) -> None:
        # epoch 1: before c_mktsegment existed; epoch 2: after
        cust.where(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_name", "c_acctbal"
        ).write.parquet(path + "/epoch1")
        cust.where(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        ).write.parquet(path + "/epoch2")

    base = _memo_source("v123_epochs", sf_dir, build)
    df = conform(
        read_evolved(spark, [base + "/epoch1", base + "/epoch2"]),
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, "
        "c_mktsegment STRING",
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
