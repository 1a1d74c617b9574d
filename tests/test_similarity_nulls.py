"""NULL-embedding regression gate for the similarity tier (round 16).

The round-15 pandas-tier NULL audit found eight unguarded ``np.stack``
sites in operators/similarity.py: one NULL embedding in an Arrow batch
raised an opaque ValueError mid-stage (the class that kills a 12-hour
100 TB job on one dirty row).  The fix is Catalyst-side ``isNotNull``
entry filters — predicate semantics: a NULL embedding can never pair,
match, or assign — plus an empty result for a NULL query vector in the
top-k paths.

Every entry point gets a pinned regression here: the dirty corpus (the
fixture plus injected NULL rows) must produce EXACTLY the clean
corpus's answer, and the degenerate corners (NULL query, all-NULL
centroids) must fail loud or return empty — never crash in the kernel,
never conflate NULL with a real value.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_blocked,
    embedding_neardup_pairs,
    ivf_assign,
    ivf_topk,
    ivf_topk_batch,
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
    semantic_dedup,
)

SF = "/root/testdata/sf0.001"
# fixture ids are 0-499; NULL rows take fresh ids above AND below the
# corpus (8000+: past the range; -1: the LOWEST id, so the lowest-id
# centroid/codeword selection is exercised against a NULL head row)
NULL_IDS = [-1, 8003, 8007, 8011]


def _dirty(spark, limit: int | None = None):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    if limit is not None:
        emb = emb.where(F.col("vec_id") < limit)
    nulls = spark.createDataFrame(
        [(i, None) for i in NULL_IDS],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    return emb.unionByName(nulls), emb


def test_neardup_blocked_ignores_null_rows(spark):
    dirty, clean = _dirty(spark, limit=80)
    want = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_neardup_blocked(
            clean, "vec_id", "embedding", threshold=0.3, num_blocks=3
        ).collect()
    }
    got = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_neardup_blocked(
            dirty, "vec_id", "embedding", threshold=0.3, num_blocks=3
        ).collect()
    }
    assert got == want and want
    # and the Catalyst pair twin agrees on the dirty corpus too
    # (NULL sim >= threshold is NULL -> filtered): same predicate
    # semantics without any explicit guard.
    twin = {
        (r.id_a, r.id_b, r.sim)
        for r in embedding_neardup_pairs(
            dirty, "vec_id", "embedding", threshold=0.3
        ).collect()
    }
    assert twin == want


def test_catalyst_topk_null_query_returns_empty(spark):
    # Predicate semantics: a NULL query matches nothing.
    dirty, _ = _dirty(spark)
    assert cosine_topk(dirty, "vec_id", "embedding", 8003, k=5).count() == 0
    assert ivf_topk(dirty, "vec_id", "embedding", 8003, k=5).count() == 0
    assert (
        pq_adc_topk(dirty, "vec_id", "embedding", 8003, k=5).count() == 0
    )


def test_ivf_assign_modes_agree_on_dirty_corpus(spark):
    dirty, clean = _dirty(spark)
    _, fold = ivf_assign(dirty, "vec_id", "embedding", 16, assign_mode="fold")
    _, gemm = ivf_assign(dirty, "vec_id", "embedding", 16, assign_mode="gemm")
    f = {r["id"]: r["cid"] for r in fold.select("id", "cid").collect()}
    g = {r["id"]: r["cid"] for r in gemm.select("id", "cid").collect()}
    assert f == g
    # NULL rows are absent from the assignment, clean rows all present,
    # and no NULL id was picked as a lowest_id centroid (id -1 is the
    # corpus minimum but carries a NULL vector).
    assert set(f) == {r.vec_id for r in clean.select("vec_id").collect()}
    _, clean_fold = ivf_assign(
        clean, "vec_id", "embedding", 16, assign_mode="fold"
    )
    assert f == {
        r["id"]: r["cid"] for r in clean_fold.select("id", "cid").collect()
    }


def test_ivf_topk_batch_ignores_null_rows(spark):
    dirty, clean = _dirty(spark)
    qids = [3, 11, 27]
    queries = clean.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = {
        (r.qid, r.id, r.sim)
        for r in ivf_topk_batch(
            clean, "vec_id", "embedding", queries, k=5
        ).collect()
    }
    got = {
        (r.qid, r.id, r.sim)
        for r in ivf_topk_batch(
            dirty, "vec_id", "embedding", queries, k=5
        ).collect()
    }
    assert got == want and want


def test_semantic_dedup_ignores_null_rows(spark):
    dirty, clean = _dirty(spark)
    for mode in ("gemm", "join"):
        want = {
            (r.id, r.cid, r.kept)
            for r in semantic_dedup(
                clean, "vec_id", "embedding", threshold=0.45, pair_mode=mode
            ).collect()
        }
        got = {
            (r.id, r.cid, r.kept)
            for r in semantic_dedup(
                dirty, "vec_id", "embedding", threshold=0.45, pair_mode=mode
            ).collect()
        }
        assert got == want and want, mode
        assert not {i for i, _, _ in got} & set(NULL_IDS)


def test_pq_codebook_and_encode_skip_null_rows(spark):
    dirty, clean = _dirty(spark, limit=40)
    cb = pq_codebooks(dirty, "vec_id", "embedding", 16)
    rows = cb.collect()
    # id -1 is the lowest id but NULL: the codebook must hold 16 dense
    # codewords drawn from the non-NULL rows, rank-coded 0..15.
    assert sorted(r.code for r in rows) == list(range(16))
    assert all(r.cvec is not None for r in rows)
    want_cb = {
        r.code: r.cvec
        for r in pq_codebooks(clean, "vec_id", "embedding", 16).collect()
    }
    assert {r.code: r.cvec for r in rows} == want_cb
    enc = pq_encode(dirty, "vec_id", "embedding", cb, m=8, dim=64)
    ids = {r.id for r in enc.select("id").distinct().collect()}
    assert not ids & set(NULL_IDS)
    assert ids == {r.vec_id for r in clean.select("vec_id").collect()}


def test_assign_gemm_all_null_centroids_fail_loud(spark):
    from flowbyte_spark.operators.similarity import _assign_gemm

    dirty, _ = _dirty(spark, limit=10)
    centroids = spark.createDataFrame(
        [(0, None), (1, None)], "cid INT, cvec ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        _assign_gemm(dirty, "vec_id", "embedding", centroids)


# ---------------------------------------------------------------------------
# property coverage: random dirty corpora through the assignment/dedup tier
# ---------------------------------------------------------------------------
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_DIM = 4
_vec = st.lists(
    st.integers(min_value=-2, max_value=2), min_size=_DIM, max_size=_DIM
)
# at least one non-NULL row (an all-NULL corpus has no defined
# assignment: fold mode yields zero rows, gemm mode fails loud on zero
# usable centroids — both acceptable, neither comparable)
_corpus = st.lists(_vec, min_size=1, max_size=10)
_null_slots = st.lists(
    st.integers(min_value=0, max_value=12), max_size=4, unique=True
)
_SETTINGS = settings(
    max_examples=int(os.environ.get("FB_HYP_EXAMPLES", "6")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(_corpus, _null_slots)
@_SETTINGS
def test_assign_and_dedup_null_invariance(spark, corpus, null_slots):
    """On ANY corpus, injected NULL rows change nothing: fold and gemm
    assignment agree with each other AND with the clean corpus, and
    semantic_dedup's kept-set is NULL-invariant.  Zero-vectors are kept
    in range (cosine NULL/NaN paths already pinned by the zero-norm
    rank-last contracts)."""
    rows = [(2 * i, [float(x) for x in v]) for i, v in enumerate(corpus)]
    dirty_rows = rows + [(2 * s + 1, None) for s in null_slots]
    clean = spark.createDataFrame(rows, "vec_id INT, emb ARRAY<DOUBLE>")
    dirty = spark.createDataFrame(dirty_rows, "vec_id INT, emb ARRAY<DOUBLE>")
    _, fold = ivf_assign(dirty, "vec_id", "emb", 3, assign_mode="fold")
    _, gemm = ivf_assign(dirty, "vec_id", "emb", 3, assign_mode="gemm")
    _, clean_fold = ivf_assign(clean, "vec_id", "emb", 3, assign_mode="fold")
    f = {r["id"]: r["cid"] for r in fold.select("id", "cid").collect()}
    g = {r["id"]: r["cid"] for r in gemm.select("id", "cid").collect()}
    c = {r["id"]: r["cid"] for r in clean_fold.select("id", "cid").collect()}
    assert f == g == c
    assert set(f) == {2 * i for i in range(len(corpus))}
    dd = {
        (r.id, r.cid, r.kept)
        for r in semantic_dedup(
            dirty, "vec_id", "emb", threshold=0.99, num_centroids=3
        ).collect()
    }
    cd = {
        (r.id, r.cid, r.kept)
        for r in semantic_dedup(
            clean, "vec_id", "emb", threshold=0.99, num_centroids=3
        ).collect()
    }
    assert dd == cd


def test_null_guard_pushes_down_to_the_scan(spark):
    # The guard must be a Catalyst predicate the scan can serve, not a
    # kernel-side drop: the parquet scan's pushed filters must include
    # IsNotNull(embedding) so NULL-free corpora pay nothing.
    emb = load_table(spark, SF, "embeddings")
    plan = embedding_neardup_blocked(
        emb, "vec_id", "embedding", threshold=0.45
    )._jdf.queryExecution().executedPlan().toString()
    assert "isnotnull(embedding" in plan or "IsNotNull(embedding" in plan
