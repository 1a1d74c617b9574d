"""V116/V117 plan shapes + batched-ANN parity with the single-query
probe.  (Oracle differentials live in test_llm2_oracle.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.queries import QUERIES
from flowbyte_spark.queries.llm import IVF_CENTROIDS, IVF_NPROBE


def test_v116_not_exists_plans_anti_join(spark, sf_dir):
    df = QUERIES["v116_q22_idle_customers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # NOT EXISTS decorrelates to a left-anti join; the scalar aggregate
    # threshold stays a 1-row subquery result, never a per-row rerun.
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_v117_batch_matches_single_query_probes(spark, sf_dir):
    # The batched plan must return EXACTLY what n independent ivf_topk
    # probes return (same quantizer, same tie rules) — the batching is
    # a plan optimization, not a semantics change.
    from flowbyte_spark.operators.similarity import ivf_topk, ivf_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [3, 11, 27, 44, 58]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batched = {
        (r.qid, r.id, float(r.sim))
        for r in ivf_topk_batch(
            emb, "vec_id", "embedding", queries,
            k=5, num_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        ).collect()
    }
    single = set()
    for qid in qids:
        for r in ivf_topk(
            emb, "vec_id", "embedding", qid,
            k=5, num_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        ).collect():
            single.add((qid, r.id, float(r.sim)))
    assert batched == single


def test_v117_exclude_self_flag(spark, sf_dir):
    # ADVICE r10: when the query table has its own qid namespace, a
    # corpus id coincidentally equal to a qid must NOT be dropped.
    # exclude_self=False keeps it: a query that IS corpus row 3 must
    # rank id 3 first at sim 1.0 (a self-match, only visible with the
    # flag off); with the default True, id 3 never appears for qid 3.
    from flowbyte_spark.operators.similarity import ivf_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    kw = dict(k=3, num_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE)
    kept = ivf_topk_batch(
        emb, "vec_id", "embedding", queries, exclude_self=False, **kw
    ).collect()
    assert (kept[0].qid, kept[0].id, float(kept[0].sim)) == (3, 3, 1.0)
    dropped = ivf_topk_batch(emb, "vec_id", "embedding", queries, **kw).collect()
    assert all(r.id != 3 for r in dropped)
    # The flag only adds/removes the self row — the non-self tail agrees.
    assert [(r.qid, r.id) for r in kept[1:]] == [
        (r.qid, r.id) for r in dropped[: len(kept) - 1]
    ]


def test_v117_no_cartesian_on_the_corpus(spark, sf_dir):
    # The fan-out join must be the equi-join on cid; the only cross
    # joins allowed are against the broadcast query/centroid tables.
    df = QUERIES["v117_batched_ann"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
