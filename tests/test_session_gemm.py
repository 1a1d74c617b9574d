"""Tests for V41/V42 oracles and the blocked-GEMM near-dup kernel."""

from __future__ import annotations

import pytest

from flowbyte_spark.catalog import load_table
from flowbyte_spark.operators.similarity import (
    embedding_neardup_blocked,
    embedding_neardup_pairs,
)
from tests.oracle_util import assert_query_matches


@pytest.mark.parametrize("name", ["v41_session_window", "v42_cube"])
def test_session_cube_matches_oracle(spark, sf_dir, name):
    assert_query_matches(spark, name, sf_dir)


@pytest.mark.parametrize("num_blocks", [1, 3, 8])
def test_blocked_gemm_matches_catalyst_pairs(spark, num_blocks):
    """The distributed block-pair kernel is exact for any block count —
    including blocks larger than the corpus (empty block pairs) and a
    single block (degenerates to one upper-triangle GEMM)."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    fast = {
        (r.id_a, r.id_b): r.sim
        for r in embedding_neardup_blocked(
            emb, "vec_id", "embedding", threshold=0.45, num_blocks=num_blocks
        ).collect()
    }
    assert exact.keys() == fast.keys()
    for k in exact:
        assert abs(exact[k] - fast[k]) <= 1e-4


def test_blocked_gemm_no_driver_collect(spark):
    """The registered V26 path must stay lazy end-to-end: building the plan
    triggers no Spark job (a toPandas()/collect() in the operator would)."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = embedding_neardup_blocked(emb, "vec_id", "embedding", threshold=0.45)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction ran Spark jobs"
    assert df.count() >= 0  # the plan itself executes fine
