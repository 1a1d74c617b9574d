"""Round-11 plan/shape assertions.  (Oracle differentials live in
test_llm2_oracle.py; property differentials for the minmax operator
live in test_incremental.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.queries import QUERIES


def test_v124_both_paths_fire_at_fixture_scale(spark, sf_dir):
    # The fixture must exercise BOTH legs: ≥1 group whose delete ties
    # an extremum (targeted recompute) and ≥1 that merges algebraically
    # — otherwise the oracle gate only proves one path.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    state = orders.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    dels = (
        orders.where(F.col("o_orderkey") % 13 == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("dmn"),
            F.max("o_totalprice").alias("dmx"),
        )
    )
    j = state.join(dels, "o_orderpriority")
    hit = j.where(
        (F.col("dmn") == F.col("mn")) | (F.col("dmx") == F.col("mx"))
    ).count()
    total = state.count()
    assert 0 < hit < total, (hit, total)


def test_v124_recompute_leg_is_broadcast_semi(spark, sf_dir):
    # The post-delta fact read must be filtered through a broadcast
    # LEFT SEMI join on the unsafe keys — the targeted recompute, not a
    # second full-fact aggregation.
    df = QUERIES["v124_incremental_minmax"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    semi_lines = [
        ln for ln in plan.splitlines() if "LeftSemi" in ln
    ]
    assert semi_lines, plan
    assert any("BroadcastHashJoin" in ln for ln in semi_lines), plan
    assert "CartesianProduct" not in plan, plan


def test_v128_correlated_avg_decorrelates(spark, sf_dir):
    # The per-part scalar AVG must compile to one aggregate joined back
    # — no surviving subquery nodes, no per-row rerun.
    df = QUERIES["v128_q17_small_quantity"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "avg(" in plan, plan


def test_v129_chunking_plan_has_no_shuffle(spark, sf_dir):
    # Chunking is map-only: split + explode + slice; any Exchange in
    # the pre-sort plan means the row amplification got shuffled.
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    chunked = (
        docs.select(F.col("doc_id"), toks.alias("ts"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("ts"), F.lit(24))).alias(
                "start"
            ),
        )
    )
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_v131_bucketed_agg_has_no_hash_exchange(spark, sf_dir):
    # The bucketed layout must satisfy the aggregate's clustering —
    # including the SUBSET rule (groupBy on (bucket_key, extra) needs
    # no exchange when the scan is hash-clustered by bucket_key).  The
    # only allowed Exchange is the presentation sort's range partition.
    df = QUERIES["v131_bucketed_agg"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("rangepartitioning" in ln for ln in ex), plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_v129_chunking_matches_python_reference(spark):
    # Declared semantics pinned against a pure-Python reference for the
    # edge shapes the fixture lacks: doc shorter than a chunk, exactly
    # one chunk, exactly chunk+1 tokens, and a long doc.
    cs, stride = 32, 24

    def ref(tokens):
        out = []
        for start in range(1, len(tokens) + 1, stride):
            chunk = tokens[start - 1 : start - 1 + cs]
            out.append(
                ((start - 1) // stride, len(chunk), " ".join(chunk))
            )
        return out

    lengths = [1, 5, 24, 25, 31, 32, 33, 56, 57, 100]
    docs = [(i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    toks = F.split(F.col("text"), " ")
    chunked = (
        df.select("doc_id", toks.alias("ts"))
        .select(
            "doc_id",
            "ts",
            F.explode(F.sequence(F.lit(1), F.size("ts"), F.lit(stride))).alias(
                "start"
            ),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / F.lit(stride)).cast("long").alias("chunk_id"),
            F.slice("ts", F.col("start"), cs).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("long").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )
    got = {}
    for r in chunked.collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.n_tokens, r.chunk_text)
        )
    for i, n in enumerate(lengths):
        toks_py = [f"t{j}" for j in range(n)]
        assert sorted(got[i]) == sorted(ref(toks_py)), (i, n)


def test_stream_outer_join_rejects_bad_how(spark):
    import pytest

    from flowbyte_spark.streaming import stream_stream_outer_join

    df = spark.range(1).select(
        F.col("id").alias("user_id"),
        F.current_timestamp().alias("ts"),
    )
    with pytest.raises(ValueError, match="left_outer or full_outer"):
        stream_stream_outer_join(df, df, key="user_id", how="inner")


def test_v130_covers_both_unmatched_sides(spark, sf_dir):
    # The FULL outer stream join must emit null-padded rows on BOTH
    # sides — if either side's unmatched rows were dropped the join
    # degenerated to left-outer/inner.
    rows = QUERIES["v130_stream_full_outer_join"](spark, sf_dir).collect()
    assert any(r.click_id is None for r in rows), "no unmatched views"
    assert any(r.view_id is None for r in rows), "no unmatched clicks"
    assert any(
        r.view_id is not None and r.click_id is not None for r in rows
    ), "no matched pairs"
