"""SRP LSH near-dup (operators/srp.py): signature math vs a local
reference, recall against brute-force cosine, and plan shape."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from flowbyte_spark.catalog import load_table
from flowbyte_spark.operators.srp import srp_neardup_pairs, srp_planes

SF = "/root/testdata/sf0.01"


def test_planes_are_md5_derived_and_bounded():
    planes = srp_planes(4, 3, seed="srp")
    for i in range(4):
        for j in range(3):
            want = int(
                hashlib.md5(f"srp_{i}_{j}".encode()).hexdigest()[:4], 16
            ) % 1001 - 500
            assert planes[i][j] == want
            assert -500 <= planes[i][j] <= 500


def test_signatures_match_local_reference(spark):
    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(50).collect()
    planes = np.array(srp_planes(64, 64))
    # local reference: same quantize + integer dot + sign
    out = srp_neardup_pairs(
        emb.where("vec_id < 50"), "vec_id", "embedding",
        n_planes=64, band_bits=4, max_hamming=64,
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    sig = {}
    for r in rows:
        q = np.round(np.array(r.embedding, dtype=np.float64) * 1000).astype(
            np.int64
        )
        sig[r.vec_id] = (planes @ q >= 0).astype(int)
    # every banded candidate's hamming must equal the reference's
    for (a, b), hm in got.items():
        assert hm == int((sig[a] != sig[b]).sum())


def test_banding_recall_against_bruteforce_cosine(spark):
    """BANDING recall (the only probabilistic part — the hamming filter
    is exact and tested above): pairs with cos >= 0.45 sit at angle
    ~63 deg, where a 4-bit band matches with p = (1 - 63.4/180)^4 =
    0.176 and 16 bands give ~95% expected recall.  Signatures are
    deterministic given the fixture + seed, so the realized recall is a
    stable snapshot: 12 of the 14 true pairs are candidates (the two
    misses are the binomial tail, documented here so a parameter
    regression — shorter signature, fewer bands, broken quantization —
    shows up as a drop below the pinned floor)."""
    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    M = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    ids = [r.vec_id for r in rows]
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    true_pairs = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.45
    }
    assert true_pairs, "fixture lost its near pairs"
    # max_hamming=n_planes disables the (exact) filter: candidates only
    cand = {
        (r.id_a, r.id_b)
        for r in srp_neardup_pairs(
            emb, "vec_id", "embedding", n_planes=64, band_bits=4,
            max_hamming=64,
        ).collect()
    }
    recall = len(true_pairs & cand) / len(true_pairs)
    assert recall >= 0.8, (recall, sorted(true_pairs - cand))


def test_plan_shape_no_allpairs(spark):
    from flowbyte_spark import plans

    emb = load_table(spark, SF, "embeddings")
    df = srp_neardup_pairs(emb, "vec_id", "embedding")
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the signature GEMM runs as an Arrow-batched kernel (documented
    # exception for matmul-shaped math); row-at-a-time Python never
    assert "BatchEvalPython" not in plan, plan


def test_band_bits_must_divide(spark):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="divide"):
        srp_neardup_pairs(emb, "vec_id", "embedding", n_planes=64, band_bits=5)


def test_bad_n_planes_rejected_before_any_job(spark):
    # n_planes is checked before the dimension probe: on an empty input
    # the probe's early return would otherwise skip the check entirely
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    for rows in ([], [(1, [1.0] * 4)]):
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        with pytest.raises(ValueError, match="n_planes > 64"):
            srp_neardup_pairs(df, "vec_id", "embedding", n_planes=128, band_bits=4)
    bus.waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(None)) == before


def test_catalyst_signature_form_equals_arrow_kernel(spark):
    """srp_signature (pure-Catalyst reference form) and the operator's
    Arrow matmul kernel must produce identical sign bits — including the
    rounding convention (both half-away-from-zero, matching DuckDB)."""
    from pyspark.sql import functions as F

    from flowbyte_spark.operators.srp import srp_signature

    emb = load_table(spark, SF, "embeddings").limit(100)
    planes = srp_planes(64, 64)
    catalyst = {
        r.vec_id: list(r.sig)
        for r in emb.select(
            "vec_id", srp_signature(F.col("embedding"), planes, 1000).alias("sig")
        ).collect()
    }
    P = np.array(planes, dtype=np.int64)
    for r in emb.select("vec_id", "embedding").collect():
        scaled = np.asarray(r.embedding, dtype=np.float64) * 1000
        q = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)
        kernel_bits = (P @ q >= 0).astype(int).tolist()
        assert catalyst[r.vec_id] == kernel_bits, r.vec_id


def test_mixed_width_and_null_vectors_fail_loud(spark):
    # The dimension is probed from one arbitrary row at build time; any
    # other row that is NULL or a different width must raise the named
    # ValueError, not an opaque numpy stack/matmul error (r8 ADVICE).
    # The named ValueError surfaces wrapped (PythonException on a fresh
    # session, raw Py4JJavaError in a long-lived suite session) — assert
    # on the message, not the wrapper type.
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [2.0] * 8), (3, [3.0] * 4)],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(Exception, match="all vectors must be non-null"):
        srp_neardup_pairs(df, "vec_id", "embedding", n_planes=8, band_bits=4).collect()

    df2 = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None)], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="NULL"):
        srp_neardup_pairs(df2, "vec_id", "embedding", n_planes=8, band_bits=4).collect()
