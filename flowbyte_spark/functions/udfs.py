"""Vectorized UDF tier (SURVEY.md §2.10).

The engine's rule: built-in Catalyst expressions first (everything in
functions/ and operators/ obeys it); when Python is genuinely required,
Arrow-batched ``pandas_udf`` — never row-at-a-time ``F.udf`` in a hot
path (~10-100x slower: per-row pickling vs columnar Arrow transfer).

These are reference implementations of that tier, used by tests to prove
the pandas path produces bit-compatible results with the Catalyst path —
so pipelines can drop to Python for custom math (tokenizers, model
scoring) without changing semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType


@F.pandas_udf(DoubleType())
def cosine_sim_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine similarity over two array<float> columns.

    Arrow hands each batch as Series-of-ndarray; stacking them gives one
    (batch, dim) matrix op per batch — NumPy BLAS instead of per-row
    Python.  Semantics match functions.cosine_similarity (double
    accumulation), including NULLs: a NULL in either input yields NULL,
    exactly as the Catalyst twin's F.aggregate over a NULL array does.
    The NULL leg needs an explicit mask because Arrow hands a NULL array
    to pandas as None — ``np.stack`` over a batch containing one would
    raise, killing the whole job on a single bad row (the r15 pandas-tier
    audit class).  A FloatingArray keeps computed NaN (zero-norm vectors)
    distinct from NA, so only genuine NULL inputs become SQL NULL.
    Element-level NULLs inside a non-NULL array arrive as NaN and
    propagate as NaN, where the Catalyst twin poisons the sum to NULL —
    documented divergence, element NULLs have no defined batch shape.
    """
    mask = (a.isna() | b.isna()).to_numpy()
    vals = np.full(len(a), np.nan)
    if (~mask).any():
        ma = np.stack(a[~mask].to_numpy()).astype(np.float64)
        mb = np.stack(b[~mask].to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        vals[~mask] = dots / norms
    return pd.Series(pd.arrays.FloatingArray(vals, mask))


@F.pandas_udf(LongType())
def token_count_pandas(text: pd.Series) -> pd.Series:
    """Whitespace token count, vectorized via pandas str ops.

    NULL text counts NULL (nullable Int64 carries it through Arrow) —
    the plain ``astype("int64")`` raised on any NULL-bearing batch, the
    same single-bad-row crash class as the r15 running-totals fix, and
    matches text.token_count's NULL-propagation post the r15 size(NULL)
    sweep.
    """
    return text.str.split(" ").str.len().astype("Int64")


def grouped_mean_embedding(df, group_col: str, vec_col: str):
    """Per-group mean embedding via applyInPandas (grouped-map UDF shape):
    the standard pattern for custom per-group math that Catalyst
    aggregates cannot express.  One shuffle on the group key; each group
    is a pandas DataFrame in executor memory."""

    def mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
        # SQL AVG/COUNT(col) semantics: NULL vectors don't contribute,
        # an all-NULL group averages to NULL, n counts non-null rows —
        # and np.stack never sees a None (which would raise mid-job).
        vecs = pdf[vec_col].dropna()
        mean = (
            np.stack(vecs.to_numpy()).astype(np.float64).mean(axis=0).tolist()
            if len(vecs)
            else None
        )
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "mean_embedding": [mean],
                "n": [len(vecs)],
            }
        )

    out_schema = (
        f"{group_col} {df.schema[group_col].dataType.simpleString()}, "
        f"mean_embedding array<double>, n bigint"
    )
    return df.groupBy(group_col).applyInPandas(mean_vec, out_schema)
