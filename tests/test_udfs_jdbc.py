"""Tests: pandas-UDF tier equivalence with the Catalyst tier, and JDBC
option construction (no driver in env — construction must be exact and
fail-fast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.functions import cosine_similarity, q4
from flowbyte_spark.functions.udfs import (
    cosine_sim_pandas,
    grouped_mean_embedding,
    token_count_pandas,
)
from flowbyte_spark.operators.text import token_count
from flowbyte_spark.sources.jdbc import JDBCSource
from tests.test_tier_a_operators import _jobs_launched

SF = "/root/testdata/sf0.001"


def test_pandas_cosine_matches_catalyst(spark):
    emb = load_table(spark, SF, "embeddings")
    pair = emb.alias("a").limit(50).crossJoin(
        emb.alias("b").where(F.col("vec_id") == 3).select(
            F.col("embedding").alias("qv")
        )
    )
    both = pair.select(
        q4(cosine_similarity(F.col("embedding"), F.col("qv"))).alias("catalyst"),
        q4(cosine_sim_pandas(F.col("embedding"), F.col("qv"))).alias("pandas"),
    ).collect()
    assert all(r.catalyst == r.pandas for r in both)


def test_pandas_token_count_matches_catalyst(spark):
    docs = load_table(spark, SF, "documents").limit(100)
    rows = docs.select(
        token_count("text").alias("catalyst"),
        token_count_pandas(F.col("text")).alias("pandas"),
    ).collect()
    assert all(r.catalyst == r.pandas for r in rows)


def test_grouped_mean_embedding(spark):
    emb = load_table(spark, SF, "embeddings")
    # building the grouped-map plan runs no job
    assert _jobs_launched(
        spark, lambda: grouped_mean_embedding(emb, "label", "embedding")
    ) == 0
    out = grouped_mean_embedding(emb, "label", "embedding")
    rows = {r.label: r for r in out.collect()}
    assert set(rows) == set(range(10))
    assert sum(r.n for r in rows.values()) == emb.count()
    assert all(len(r.mean_embedding) == 64 for r in rows.values())


# -- NULL semantics of the pandas tier (r15 pandas-tier NULL audit): a
# single NULL row must neither crash the Arrow batch (np.stack of None,
# astype("int64") of NaN) nor conflate with a real value; the Catalyst
# twins define the contract.


def test_pandas_cosine_null_rows_yield_null(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, [0.0, 1.0], None),
            (4, None, None),
        ],
        "id int, a array<double>, b array<double>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            q4(cosine_similarity(F.col("a"), F.col("b"))).alias("catalyst"),
            q4(cosine_sim_pandas(F.col("a"), F.col("b"))).alias("pandas"),
        ).collect()
    }
    assert rows[1].pandas == rows[1].catalyst == 1.0
    for i in (2, 3, 4):
        assert rows[i].pandas is None and rows[i].catalyst is None


def test_pandas_token_count_null_text_counts_null(spark):
    df = spark.createDataFrame(
        [(1, "two words"), (2, None), (3, "one")], "id int, text string"
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            token_count("text").alias("catalyst"),
            token_count_pandas(F.col("text")).alias("pandas"),
        ).collect()
    }
    assert rows[1].pandas == rows[1].catalyst == 2
    assert rows[2].pandas is None and rows[2].catalyst is None
    assert rows[3].pandas == rows[3].catalyst == 1


def test_grouped_mean_embedding_null_vectors_skip_like_sql_avg(spark):
    df = spark.createDataFrame(
        [
            ("a", [2.0, 4.0]),
            ("a", None),
            ("a", [4.0, 8.0]),
            ("b", None),  # all-NULL group: mean NULL, n = 0
        ],
        "label string, embedding array<double>",
    )
    rows = {r.label: r for r in grouped_mean_embedding(df, "label", "embedding").collect()}
    assert rows["a"].n == 2 and rows["a"].mean_embedding == [3.0, 6.0]
    assert rows["b"].n == 0 and rows["b"].mean_embedding is None


# ---------------------------------------------------------------------------
# JDBC configuration building
# ---------------------------------------------------------------------------


def _src() -> JDBCSource:
    return JDBCSource(
        url="jdbc:sqlserver://h;databaseName=db",
        user="u",
        password="p",
        driver="com.microsoft.sqlserver.jdbc.SQLServerDriver",
    )


def test_jdbc_read_options_query():
    opts = _src().read_options(query="SELECT 1 AS x")
    assert opts["query"] == "SELECT 1 AS x"
    assert opts["fetchsize"] == "10000"  # reference default chunksize
    assert "dbtable" not in opts


def test_jdbc_read_options_partitioned():
    opts = _src().read_options(
        table="dbo.orders",
        partition_column="o_orderkey",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=64,
    )
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["numPartitions"] == "64"
    assert opts["dbtable"] == "dbo.orders"


@pytest.mark.parametrize(
    "kwargs",
    [
        {},  # neither query nor table
        {"query": "SELECT 1", "table": "t"},  # both
        {"table": "t", "partition_column": "k"},  # incomplete partitioning
        {"query": "SELECT 1", "partition_column": "k", "lower_bound": 0,
         "upper_bound": 1, "num_partitions": 2},  # partitioned query
    ],
)
def test_jdbc_read_options_validation(kwargs):
    with pytest.raises(ValueError):
        _src().read_options(**kwargs)


def test_jdbc_write_options():
    opts = _src().write_options("dbo.t", batchsize=5000, truncate=True)
    assert opts["batchsize"] == "5000"
    assert opts["truncate"] == "true"
    assert opts["url"].startswith("jdbc:sqlserver://")


# ---------------------------------------------------------------------------
# Live end-to-end against embedded Derby (ships in pyspark's jars/ — on
# every session's classpath).  These exercise the REAL JDBC path the
# option-construction tests above only shape-check: batched write,
# partitioned range read, predicate pushdown into the database.
# ---------------------------------------------------------------------------


def _derby(spark, db):
    from flowbyte_spark.queries.connectors_q import DERBY_DRIVER, embedded_derby_url

    return JDBCSource(url=embedded_derby_url(spark, db), driver=DERBY_DRIVER)


def test_jdbc_derby_roundtrip_partitioned(spark):
    src = _derby(spark, "t_rt")
    cust = load_table(spark, SF, "customer")
    src.insert_data(cust, None, "cust_rt", mode="overwrite")
    back = src.get_data(
        spark,
        table="cust_rt",
        partition_column="c_custkey",
        lower_bound=0,
        upper_bound=cust.count() + 1,
        num_partitions=4,
        fetchsize=100,
    )
    # the read genuinely plans 4 concurrent range partitions
    from flowbyte_spark import plans

    assert "numPartitions=4" in plans.physical_plan(back)
    assert back.rdd.getNumPartitions() == 4
    # content equality: no row lost, duplicated, or re-typed across the
    # write -> server -> partitioned-read path (range-stride off-by-ones
    # show up here as missing/doubled boundary rows)
    a = sorted(map(tuple, cust.select("c_custkey", "c_name", "c_nationkey").collect()))
    b = sorted(map(tuple, back.select("c_custkey", "c_name", "c_nationkey").collect()))
    assert a == b


def test_jdbc_derby_predicate_pushdown(spark):
    from flowbyte_spark import plans

    src = _derby(spark, "t_push")
    nation = load_table(spark, SF, "nation")
    src.insert_data(nation, None, "nation_p", mode="overwrite")
    back = src.get_data(spark, table="nation_p").where(F.col("n_regionkey") == 2)
    plan = plans.physical_plan(back)
    assert "PushedFilters" in plan and "EqualTo(N_REGIONKEY,2)" in plan.replace(
        "n_regionkey", "N_REGIONKEY"
    ), plan
    want = {r.n_name for r in nation.where("n_regionkey = 2").collect()}
    assert {r.n_name for r in back.collect()} == want


def test_jdbc_derby_truncate_overwrite(spark):
    src = _derby(spark, "t_trunc")
    region = load_table(spark, SF, "region")
    src.insert_data(region, None, "region_t", mode="overwrite")
    # truncate-then-load keeps the table but replaces the rows
    src.overwrite_truncating(region.limit(2), None, "region_t")
    assert src.get_data(spark, table="region_t").count() == 2
    # append extends
    src.insert_data(region.limit(1), None, "region_t", mode="append")
    assert src.get_data(spark, table="region_t").count() == 3
