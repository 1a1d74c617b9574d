"""Signed-random-projection (SRP) LSH near-dup over embeddings —
"SimHash for vectors" (Charikar 2002, STOC: sign(r·x) sketches satisfy
P[bit differs] = angle/pi).

Complements the embedding near-dup family in ``similarity.py``: the
GEMM kernel is exact but broadcast-bound, the blocked variant pays
O(n^2/blocks), IVF prunes by coarse clusters — SRP prunes by BANDED
SIGNATURE BUCKETS like MinHash does for text, so candidate generation
is a plain equi-join on (band, key): one shuffle, no pair blowup, no
matrix broadcast.  The 100 TB shape.  That search is the one SimHash
uses too (``dedup.hamming_pairs``); this module only computes the
packed signatures.

Everything is INTEGER-exact by construction: embeddings quantize to
``round(x * quant)`` longs and the hyperplanes are integers derived
from md5 of a seed string — so any engine with md5 reproduces the
signatures bit-for-bit (the DuckDB oracle for v100 recomputes them in
SQL), and a signature regression is a hash-gate failure, not drift.

Regime note: banding discriminates strongly for HIGH-cosine near-dup
(cos >= ~0.8: long bands prune almost everything).  At lower
thresholds the band length must shrink (see ``band_bits``) and pruning
weakens — the fixture gate runs at cos ~0.45 with 4-bit bands for
liveness; production near-dup at cos 0.9 wants 12-16-bit bands.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def srp_planes(n_planes: int, dim: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic integer hyperplanes in [-500, 500]: component (i, j)
    is md5(f"{seed}_{i}_{j}")'s first 4 hex digits mod 1001, minus 500 —
    reproducible in any engine with md5 (the oracle recomputes these)."""
    return [
        [
            int(hashlib.md5(f"{seed}_{i}_{j}".encode()).hexdigest()[:4], 16)
            % 1001
            - 500
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def srp_signature(vec: Column, planes: list[list[int]], quant: int) -> Column:
    """``array<int>`` of sign bits: bit i = 1 iff the quantized vector's
    integer dot product with plane i is >= 0.  Pure Catalyst
    (transform/zip_with/aggregate), no UDF."""
    qv = F.transform(vec, lambda x: F.round(x.cast("double") * quant).cast("long"))
    zero = F.lit(0).cast("long")
    return F.transform(
        F.lit(planes),
        lambda plane: F.when(
            F.aggregate(
                F.zip_with(qv, plane, lambda a, b: a * b),
                zero,
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def srp_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 64,
    band_bits: int = 4,
    max_hamming: int = 22,
    quant: int = 1000,
    seed: str = "srp",
) -> DataFrame:
    """Candidate pairs whose full SRP signatures differ in at most
    ``max_hamming`` of ``n_planes`` bits, generated by banded bucket
    join (a pair is a candidate iff SOME band of ``band_bits``
    consecutive bits matches exactly).

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.  Output is
    fully deterministic (integer signatures); the probabilistic part is
    only RECALL — a true near-pair missed by every band.  Miss
    probability at angle theta: ``(1 - (1 - theta/pi)^band_bits)^bands``.

    Scale shape: signatures are one map-only pass (no shuffle); the
    candidate search and hamming filter are ``dedup.hamming_pairs``: ONE
    shuffle on (band, key) buckets, then the signatures joined back by id
    (broadcast-or-shuffle, AQE's call).  Never all-pairs.
    """
    if n_planes % band_bits:
        raise ValueError("band_bits must divide n_planes")
    if n_planes > 64:
        raise ValueError("n_planes > 64 needs a multi-word mask (not built)")
    # array columns carry no width in the schema: probe one row for the
    # dimension (bounded limit(1) collect — NOTE this triggers a small
    # Spark job at PLAN-CONSTRUCTION time, before the caller acts on the
    # returned DataFrame).  Rows that disagree with the probed width are
    # rejected per-batch inside _mask_kernel with a named ValueError.
    probe = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not probe:
        return df.sparkSession.createDataFrame(
            [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                f"id_b {df.schema[id_col].dataType.simpleString()}, hamming long"
        )
    dim = probe[0]["d"]
    planes = srp_planes(n_planes, dim, seed)

    from flowbyte_spark.operators.cache import persist_tracked
    from flowbyte_spark.operators.dedup import hamming_pairs

    # Pack the sign bits into ONE long (bit i = plane i): band keys
    # become bit slices and the pair distance bit_count(xor) — all
    # whole-stage codegen, no per-pair higher-order lambdas.  The
    # signature plan feeds the banded self-join (twice) and both
    # distance joins — the tracked persist stops the n_planes x dim
    # dot-product pass recomputing once per reference (released by the
    # repo's release_persisted() contract after materialization).
    # Signature pass as an Arrow-batched numpy kernel: the dot products
    # are a (batch x dim) @ (dim x n_planes) integer matmul — the
    # GEMM-class shape this repo routes to vectorized pandas_udf by
    # convention (a Catalyst higher-order form pays n_planes x dim
    # interpreted lambda ops PER ROW — measured 5.8 s vs 0.9 s on the
    # sf0.1 gate).  Exactness is preserved: int64 quantization with
    # HALF-AWAY-FROM-ZERO rounding (sign * floor(|x*quant| + 0.5)),
    # matching DuckDB's round() in the v100 oracle — NOT numpy's
    # banker's rounding.
    import pandas as pd  # noqa: F401  (pandas_udf import side)
    from pyspark.sql.functions import pandas_udf

    planes_t = [[planes[i][j] for i in range(n_planes)] for j in range(len(planes[0]))]

    @pandas_udf("long")
    def _mask_kernel(vec):
        import numpy as np

        P = np.array(planes_t, dtype=np.int64)  # (dim, n_planes)
        # The dimension was probed from ONE row at build time; fail loud
        # (not with an opaque numpy matmul error) if any other row is
        # NULL or a different width.
        rows = []
        for i, v in enumerate(vec):
            if v is None:
                raise ValueError(
                    f"srp_neardup_pairs: NULL {vec.name or 'vector'} in batch "
                    f"position {i}; expected a {P.shape[0]}-dim array"
                )
            a = np.asarray(v, dtype=np.float64)
            if a.shape != (P.shape[0],):
                raise ValueError(
                    f"srp_neardup_pairs: vector of shape {a.shape} at batch "
                    f"position {i}; the probed dimension is {P.shape[0]} — "
                    "all vectors must be non-null and equally sized"
                )
            rows.append(a)
        M = np.stack(rows)
        scaled = M * quant
        Q = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)
        bits = (Q @ P >= 0).astype(np.uint64)  # (batch, n_planes)
        pw = np.left_shift(np.uint64(1), np.arange(P.shape[1], dtype=np.uint64))
        return pd.Series((bits * pw).sum(axis=1).view(np.int64))

    sigs = persist_tracked(
        df.select(F.col(id_col).alias("id"), _mask_kernel(F.col(vec_col)).alias("p"))
    )
    return hamming_pairs(sigs, n_planes, n_planes // band_bits, band_bits, max_hamming)
