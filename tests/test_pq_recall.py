"""Codebook construction for the product-quantization ANN path (v87)."""

from __future__ import annotations

import numpy as np

from flowbyte_spark.operators.similarity import pq_adc_topk, pq_codebooks


def test_pq_codebook_handles_sparse_offset_ids(spark):
    """Round-6 review finding: ids starting above `codes` must still
    yield a full rank-coded codebook (the id<codes form silently built
    an EMPTY one and returned empty results)."""
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 16))
    df = spark.createDataFrame(
        [(int(1000 + 7 * i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id INT, emb ARRAY<DOUBLE>",
    )
    cb = pq_codebooks(df, "vec_id", "emb", codes=8)
    rows = cb.collect()
    assert sorted(r.code for r in rows) == list(range(8))
    out = pq_adc_topk(
        df, "vec_id", "emb", 1000 + 7 * 30, k=5, m=4, dim=16, codes=8
    ).collect()
    assert len(out) == 5  # non-empty: the search actually ran
