"""Plan + resource contracts behind the round-13 PageRank rework.

Two things hold the rework's zero-per-round-exchange claim:

1. Spark's alias-aware partitioning propagation: a MATERIALIZED cache
   persisted with repartition(col) must feed a groupBy on an alias of
   that column through broadcast-join + project WITHOUT a new
   exchange.  A Spark upgrade (or flipping
   spark.sql.optimizer.canChangeCachedPlanOutputPartitioning) breaking
   this would silently re-add a ~20M-row-per-round shuffle at 35M
   edges; pin it here.
2. The final rank checkpoint is release-tracked (ADVICE r12 medium:
   localCheckpoint blocks live outside the CacheManager, so an
   untracked handle leaks one O(nodes) table per invocation).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from flowbyte_spark.operators import cache
from flowbyte_spark.operators.components import pagerank_fixed_point


def test_materialized_cache_partitioning_survives_bcast_join_and_alias(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
    )
    part = df.repartition(F.col("dst")).persist()
    try:
        part.count()  # unmaterialized AQE cache reports unknown partitioning
        small = spark.range(0, 97).select(
            F.col("id").alias("u"), F.lit(7).alias("w")
        )
        out = (
            part.join(F.broadcast(small), part["src"] == small["u"])
            .select(F.col("dst").alias("node"), F.col("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("s"))
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        above_cache = plan.split("InMemoryRelation")[0]
        assert not re.search(r"Exchange hashpartitioning\(node", above_cache), (
            "groupBy(alias of cached partition key) re-shuffled:\n"
            + above_cache
        )
    finally:
        part.unpersist()


def test_pagerank_releases_every_block(spark):
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50) for i in range(500)],
        "src long, dst long",
    ).where("src != dst")
    pagerank_fixed_point(edges, iterations=3).collect()
    cache.release_persisted()
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after <= before, (
        f"pagerank leaked {after - before} persisted/checkpointed blocks"
    )

