"""Similarity search over embedding columns (array<float>).

Charter scope (the reference has no vector capability).  One exact path
and one approximate path per job:

- top-k for one query vector: :func:`cosine_topk` (exact, one scan, no
  shuffle — TakeOrdered over partial per-partition heaps);
  :func:`ivf_topk` / :func:`ivf_topk_batch` (IVF: queries probe only the
  ``nprobe`` nearest inverted lists) and :func:`pq_adc_topk` (product
  quantization: ranks m-byte codes by asymmetric distance).
- all pairs above a cosine threshold: :func:`embedding_neardup_pairs`
  (the Catalyst self-join reference) and
  :func:`embedding_neardup_blocked` (the same pairs from a distributed
  block-matrix GEMM); :func:`semantic_dedup` blocks pairing by IVF
  cluster.

The Catalyst paths do their vector math in double precision (zip_with +
aggregate, see flowbyte_spark.functions), so values are bit-identical to
the DuckDB oracle's list_* functions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flowbyte_spark.functions import cosine_similarity, ensure_parallelism, q4


def _query_vector(df: DataFrame, id_col: str, vec_col: str, query_id) -> DataFrame:
    """One-row (``__qv__``) query-vector side for the broadcast cross
    joins.  A NULL query embedding yields an EMPTY side — so every
    consumer (cosine/IVF/PQ top-k) returns zero rows for a NULL query
    instead of k junk rows ranked on all-NULL sims (Spark sorts DESC
    NULLS LAST, so without the guard the "top-k" would be the first k
    ids).  Predicate semantics: a NULL query matches nothing."""
    return df.where(
        (F.col(id_col) == query_id) & F.col(vec_col).isNotNull()
    ).select(F.col(vec_col).alias("__qv__"))


def _non_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Catalyst-side entry guard shared by every GEMM/assign kernel: drop
    rows whose embedding is NULL.

    Predicate semantics — a NULL embedding can never pair, match, or
    assign (the same treatment the minhash/tfidf tier gives NULL
    documents: ``size(shingles) > 0`` drops them before any kernel).
    Without it, ``np.stack`` over an Arrow batch containing a NULL array
    raises an opaque ValueError mid-stage — one NULL vector kills a
    12-hour 100 TB job (round-15 pandas-tier NULL audit).  The guard is
    a plain Catalyst predicate, so it pushes down to the parquet scan
    and costs nothing on NULL-free corpora.
    """
    return df.where(F.col(vec_col).isNotNull())


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k nearest to the vector of ``query_id`` by cosine.

    The one-row query side is cross-broadcast; ranking happens in a single
    scan with per-partition partial top-k (Spark's TakeOrderedAndProject) —
    no full sort, no shuffle of the corpus.
    Returns (id, sim) with sim rounded to 4 d.p., ties broken by id.
    """
    qv = F.broadcast(_query_vector(df, id_col, vec_col, query_id))
    scored = df.crossJoin(qv).select(
        F.col(id_col).alias("id"),
        q4(cosine_similarity(F.col(vec_col), F.col("__qv__"))).alias("sim"),
    )
    if not include_self:
        scored = scored.where(F.col("id") != query_id)
    return scored.orderBy(F.col("sim").desc(), F.col("id")).limit(k)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """All (id_a, id_b, sim) pairs with cosine ≥ threshold, id_a < id_b.

    Exact: self-join (id_a < id_b keeps each pair once).  Quadratic by
    nature — correct at verification scale; swap in minhash/LSH bucketing
    (see dedup.py) or ivf blocking before the join at production scale.
    """
    from flowbyte_spark.functions import dot, l2_norm

    # Precompute norms per row (O(n) work) so the O(n²) pair stage only
    # evaluates the dot product; values are bit-identical to computing the
    # full cosine per pair (same sqrt, same product, same division).
    left = ensure_parallelism(df).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    return (
        left.join(right, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            q4(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_neardup_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine near-dup, distributed block-matrix GEMM.

    Same (id_a, id_b, sim) output as :func:`embedding_neardup_pairs`
    (sims q4-rounded from float64 arithmetic), with nothing collected to
    the driver: rows hash into ``num_blocks`` blocks, every unordered block
    pair (i ≤ j) becomes one task, and each task runs the
    (block × dim) @ (dim × block) kernel over exactly two blocks of
    vectors.  Each unordered row pair lives in exactly one block pair, so
    the result is exact — unlike IVF/LSH blocking, which drops
    cross-bucket pairs.

    Scale accounting: shuffle volume is n×(num_blocks+1) rows and peak
    task memory two blocks (2·(n/B)·dim·8 B); at a given cluster pick
    num_blocks ≈ n·dim·8 / (mem_per_task/2).  Total compare work stays
    O(n²) — that is what "exact all-pairs" means; cut the candidate set
    with MinHash LSH or IVF (dedup.py, :func:`ivf_assign`) when
    approximate recall is acceptable.

    NULL embeddings are dropped at entry (:func:`_non_null_vectors`),
    so the per-block-pair ``np.stack`` only ever sees dense batches.
    """
    import numpy as np
    import pandas as pd

    df = _non_null_vectors(df, vec_col)
    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("blk"),
    )
    pairs = (
        spark.range(num_blocks)
        .select(F.col("id").cast("int").alias("bi"))
        .crossJoin(
            spark.range(num_blocks).select(F.col("id").cast("int").alias("bj"))
        )
        .where(F.col("bi") <= F.col("bj"))
    )
    # Tag each row once per block pair it participates in: as the "left"
    # side of pairs (blk, j≥blk) and the "right" side of (i≤blk, blk).
    left = base.join(F.broadcast(pairs), base.blk == pairs.bi).select(
        "bi", "bj", F.lit(0).alias("side"), "id", "vec"
    )
    right = base.join(F.broadcast(pairs), base.blk == pairs.bj).select(
        "bi", "bj", F.lit(1).alias("side"), "id", "vec"
    )

    def gemm_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        same_block = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        lp = pdf[pdf["side"] == 0]
        rp = pdf[pdf["side"] == 1]
        if lp.empty or rp.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        if same_block:  # both sides are the same block: use one copy
            rp = lp
        lm = np.stack(lp["vec"].to_numpy()).astype(np.float64)
        rm = np.stack(rp["vec"].to_numpy()).astype(np.float64)
        li = lp["id"].to_numpy()
        ri = rp["id"].to_numpy()
        ln = np.sqrt((lm * lm).sum(axis=1))
        rn = np.sqrt((rm * rm).sum(axis=1))
        sims = (lm @ rm.T) / np.outer(ln, rn)
        sims = np.floor(sims * 10000.0 + 0.5) / 10000.0
        ai, aj = np.nonzero(sims >= threshold)
        ida, idb = li[ai], ri[aj]
        if same_block:
            mask = ida < idb  # upper triangle: each pair once
        else:
            mask = ida != idb  # blocks are disjoint; reorder to (min, max)
        lo = np.minimum(ida[mask], idb[mask])
        hi = np.maximum(ida[mask], idb[mask])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": sims[ai, aj][mask]})

    id_t = df.schema[id_col].dataType.simpleString()
    return (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(gemm_pair, f"id_a {id_t}, id_b {id_t}, sim double")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_centroids: int = 16,
    centroid_mode: str = "lowest_id",
    seed: int = 42,
    pair_mode: str = "gemm",
    assign_mode: str = "gemm",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster, then prune within
    cluster (Abbas et al. 2023, arXiv:2303.09540 — published method; no
    counterpart in the reference, which has no vector capability).

    Returns ``(id, cid, kept)``: every input row tagged with its cluster
    and whether it survives.  A row is pruned (``kept=false``) when some
    SAME-CLUSTER row with a LOWER id has cosine similarity ≥ ``threshold``
    — the deterministic exemplar rule: the lowest id of every near-dup
    neighborhood survives, and reruns/appends cannot flip survivors the
    way a random-exemplar rule would.

    Scale shape (the SemDeDup design point): the O(n²) all-pairs
    comparison collapses to O(Σ|cluster|²) — n²/k for k balanced clusters
    — and the pair stage is an equi-join on ``cid``, so each cluster's
    comparisons co-locate on one executor.  At 100 TB pick
    ``num_centroids`` so one cluster's vectors fit a task
    (~ n·dim·8/k bytes) and use ``centroid_mode='kmeans'``
    (:func:`kmeans_centroids`) for balanced lists; a residual hot cluster
    can run the block-pair GEMM (:func:`embedding_neardup_blocked`)
    within the cluster instead of the codegen pair join.

    ``pair_mode='gemm'`` (default, the registered path) runs each
    cluster's comparison as one Arrow-batched BLAS kernel inside
    ``applyInPandas`` — the cluster's rows already co-locate after the
    groupBy exchange, and one (|c| × dim) @ (dim × |c|) product replaces
    |c|² interpreted array folds (``zip_with``/``aggregate`` lambdas are
    excluded from whole-stage codegen — the same measured cliff that
    reshaped v69).  ``pair_mode='join'`` is the pure-Catalyst reference
    implementation (norms hoisted per row, pair stage dot-product-only);
    both produce identical q4-rounded sims and are equivalence-tested.

    Rows with a NULL embedding are dropped at entry
    (:func:`_non_null_vectors`): a NULL vector can never cluster or
    prune, so it appears in neither the kept nor the pruned set — the
    predicate semantics the whole near-dup tier shares.  (The drop also
    happens inside :func:`ivf_assign`; the explicit entry filter makes
    the operator's own contract independent of the quantizer's.)
    """
    from flowbyte_spark.functions import dot, l2_norm
    from flowbyte_spark.operators import cache

    df = _non_null_vectors(df, vec_col)
    _, assignments = ivf_assign(
        df,
        id_col,
        vec_col,
        num_centroids,
        centroid_mode=centroid_mode,
        seed=seed,
        assign_mode=assign_mode,
    )
    # The assignment table feeds BOTH the prune stage and the final kept
    # join; persist it so the n×k cosine assignment pass runs once.
    # Tracked: the caller releases via cache.release_persisted() after
    # materializing, the LSH-family contract.
    assignments = cache.persist_tracked(assignments)
    if pair_mode == "gemm":
        import numpy as np
        import pandas as pd

        def cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["id"].to_numpy()
            mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ mat.T) / np.outer(nrm, nrm)
            sims = np.floor(sims * 10000.0 + 0.5) / 10000.0
            dup = ((sims >= threshold) & (ids[None, :] < ids[:, None])).any(
                axis=1
            )
            return pdf.loc[dup, ["id"]]

        id_t = df.schema[id_col].dataType.simpleString()
        dups = assignments.groupBy("cid").applyInPandas(
            cluster_dups, f"id {id_t}"
        )
    elif pair_mode == "join":
        sides = assignments.select(
            "id", "cid", "vec", l2_norm(F.col("vec")).alias("nrm")
        )
        left = sides.select(
            "cid",
            F.col("id").alias("id_a"),
            F.col("vec").alias("va"),
            F.col("nrm").alias("na"),
        )
        right = sides.select(
            "cid",
            F.col("id").alias("id_b"),
            F.col("vec").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        dups = (
            left.join(right, "cid")
            .where(F.col("id_b") < F.col("id_a"))
            .where(
                q4(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
                >= threshold
            )
            .select(F.col("id_a").alias("id"))
            .distinct()
        )
    else:
        raise ValueError(f"unknown pair_mode {pair_mode!r}")
    dups = dups.withColumn("__dup", F.lit(True))
    return assignments.join(dups, "id", "left").select(
        "id", "cid", F.col("__dup").isNull().alias("kept")
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    sample_rows: int = 100_000,
) -> DataFrame:
    """Seeded k-means coarse quantizer: (cid, cvec), cid = 0..k-1.

    Distributed pyspark.ml KMeans (k-means|| init) over a deterministic
    hash-based sample — xxhash64 of the id, not rand(), so the sample (and
    therefore the centroids) is stable across reruns and append-stable as
    the corpus grows.  Vectors are L2-normalized before training, making
    Euclidean k-means equivalent to spherical (cosine) clustering, which
    matches the cosine assignment in :func:`ivf_assign`.  Sample size
    bounds training cost at 100 TB: centroid quality needs rows ≈ 100×k,
    not the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Narrow count: only the id column reaches the scan, so parquet serves
    # it from footer metadata when the input is an unfiltered table.
    n = df.select(id_col).count()
    frac_num = min(sample_rows, n)
    sample = df.where(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(max(n // max(frac_num, 1), 1)))
        == 0
    )
    # Hoist the norm out of the per-element lambda (one aggregate per row,
    # not per element) and drop zero-norm vectors — they would normalize
    # to NaN features and poison KMeans.fit.
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, y: acc + y.cast("double") * y.cast("double"),
        )
    )
    unit = (
        sample.withColumn("__norm", norm)
        .where(F.col("__norm") > 0)
        .select(
            array_to_vector(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") / F.col("__norm")
                )
            ).alias("features")
        )
    )
    model = KMeans(
        k=num_centroids, seed=seed, maxIter=max_iter, initMode="k-means||"
    ).fit(unit)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return df.sparkSession.createDataFrame(centers, "cid INT, cvec ARRAY<DOUBLE>")


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    centroid_mode: str = "lowest_id",
    seed: int = 42,
    assign_mode: str = "fold",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: (centroids, assignments).

    ``centroid_mode='lowest_id'`` takes the ``num_centroids`` lowest-id
    vectors — deterministic, cheap, and exactly expressible in the
    cross-engine oracle SQL, so it anchors the correctness gate.
    ``centroid_mode='kmeans'`` is the production quantizer: seeded
    distributed k-means (:func:`kmeans_centroids`) — better-balanced
    inverted lists, higher recall at the same nprobe.

    ``assign_mode='fold'`` assigns with pure-Catalyst cosine folds over a
    broadcast centroid join (one map-side ``min_by`` pass — the n×k
    amplified table never shuffles).  ``assign_mode='gemm'`` computes the
    same argmax as one (batch × dim) @ (dim × k) BLAS product per Arrow
    batch in ``mapInPandas``.  Same q4-rounded sims, same lowest-cid
    tie-break, same NULL/NaN-sims-rank-last semantics; the two modes are
    equivalence-tested row-for-row on the fixture.  Trade-off, measured
    on local[32] at 64-d/k=16: the fold pays ~dim·k interpreted lambda
    evals per row (zip_with/aggregate are excluded from codegen) and the
    Catalyst interpreter itself runs ~5× slower until the JVM's C2
    compiler warms it (identical passes: 15-20 s for a fresh session's
    first runs, ~3 s warm), while the GEMM pays a fixed Arrow round-trip
    of (id, vec) plus an eager limit-k centroid collect and times
    STABLY.  Fold wins small warm corpora (v25's fixture path); gemm
    wins large or latency-sensitive runs and any k in the hundreds
    (real IVF indexes: k ≈ √n), since the BLAS product is ~flat in k.

    NULL embeddings are dropped at entry (:func:`_non_null_vectors`) in
    BOTH assign modes, keeping them row-for-row equivalent under dirty
    corpora: fold mode would otherwise assign a NULL row to the lowest
    cid (every csim NULL → every coalesced sort key +inf), and gemm
    mode would crash ``np.stack`` — neither is an assignment a NULL
    vector can earn.  The filter also keeps a NULL vector from being
    picked as a ``lowest_id`` centroid.
    """
    df = _non_null_vectors(df, vec_col)
    if centroid_mode == "kmeans":
        centroids = kmeans_centroids(
            df, id_col, vec_col, num_centroids=num_centroids, seed=seed
        )
    elif centroid_mode == "lowest_id":
        centroids = (
            df.orderBy(F.col(id_col))
            .limit(num_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        )
    else:
        raise ValueError(f"unknown centroid_mode {centroid_mode!r}")
    if assign_mode == "gemm":
        return centroids, _assign_gemm(df, id_col, vec_col, centroids)
    if assign_mode != "fold":
        raise ValueError(f"unknown assign_mode {assign_mode!r}")
    # The broadcast join amplifies every row ×num_centroids and each
    # amplified row pays an interpreted cosine fold (zip_with/aggregate
    # are excluded from codegen) — CPU-bound per row, so a small
    # single-file input must spread across cores first or the whole
    # assignment pins to the scan's 1-2 partitions (measured 6x on
    # local[32]).
    scored = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    ).join(F.broadcast(centroids))
    # argmax via min_by over (-csim, cid): highest similarity, lowest cid on
    # ties — same winner as a row_number window, but the aggregate combines
    # map-side, so the n×centroids amplified table collapses back to n rows
    # BEFORE the exchange instead of shuffling all n×centroids of them.
    assignments = (
        scored.withColumn(
            "csim", q4(cosine_similarity(F.col("vec"), F.col("cvec")))
        )
        .groupBy("id")
        .agg(
            F.min_by(
                F.struct(F.col("cid"), F.col("vec")),
                # NULL csim (e.g. zero-norm centroid) must rank LAST: struct
                # comparison sorts NULL first, so coalesce to +inf instead.
                F.struct(
                    F.coalesce(-F.col("csim"), F.lit(float("inf"))).alias(
                        "neg_sim"
                    ),
                    F.col("cid").alias("cid"),
                ),
            ).alias("best")
        )
        .select("id", F.col("best.cid").alias("cid"), F.col("best.vec").alias("vec"))
    )
    return centroids, assignments


def _assign_gemm(
    df: DataFrame, id_col: str, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """Vectorized argmax-cosine assignment against a collected centroid
    matrix (k × dim — tiny by construction, same bound as the broadcast
    join in fold mode).

    Matches fold-mode semantics exactly: sims are q4-quantized before the
    argmax, ties break to the lowest cid (the centroid matrix is sorted
    by cid and ``np.argmax`` returns the first maximum), and NaN sims
    (zero-norm vector or centroid) rank last via ``-inf`` — the twin of
    fold mode's NULL-coalesce-to-+inf on the negated sim.

    NULL guards (round-16, closing the r15 pandas-tier NULL audit):
    input rows with a NULL vector are dropped at entry (predicate
    semantics, same as fold mode post-filter), and a NULL centroid
    vector is dropped before the collect — it can never win an argmax
    (fold mode ranks it last via the +inf coalesce).  Zero usable
    centroids fails loud: every assignment would be undefined.
    """
    import numpy as np
    import pandas as pd

    df = _non_null_vectors(df, vec_col)
    rows = centroids.where(F.col("cvec").isNotNull()).orderBy("cid").collect()
    if not rows:
        raise ValueError("ivf assign: no centroid has a non-NULL vector")
    cids = np.array([r["cid"] for r in rows])
    cmat = np.stack(
        [np.asarray(r["cvec"], dtype=np.float64) for r in rows]
    )
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    b = df.sparkSession.sparkContext.broadcast((cids, cmat, cnorm))

    def assign(batches):
        cids_, cmat_, cnorm_ = b.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (mat @ cmat_.T) / np.outer(nrm, cnorm_)
            sims = np.floor(sims * 10000.0 + 0.5) / 10000.0
            sims = np.nan_to_num(sims, nan=-np.inf)
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "cid": cids_[best],
                    "vec": pdf[vec_col],
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    cid_t = dict(centroids.dtypes)["cid"]
    vec_t = df.schema[vec_col].dataType.simpleString()
    return ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        assign, f"id {id_t}, cid {cid_t}, vec {vec_t}"
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    centroid_mode: str = "lowest_id",
    seed: int = 42,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ANN top-k: probe the ``nprobe`` centroids nearest the query, rank
    only their inverted lists.  Returns (id, sim) like :func:`cosine_topk`
    (approximate: recall < 1 when true neighbors live in unprobed lists;
    the measured recall gate lives in tests/test_ivf_recall.py and
    docs/SCALE.md).  Pass ``index`` — a prebuilt :func:`ivf_assign`
    result — to amortize quantizer training across queries (the
    production pattern: build once, probe per query).
    """
    centroids, assignments = index if index is not None else ivf_assign(
        df, id_col, vec_col, num_centroids, centroid_mode=centroid_mode, seed=seed
    )
    qv = F.broadcast(_query_vector(df, id_col, vec_col, query_id))
    probed = F.broadcast(
        centroids.crossJoin(qv)
        .select(
            "cid",
            q4(cosine_similarity(F.col("cvec"), F.col("__qv__"))).alias("qsim"),
        )
        .orderBy(F.col("qsim").desc(), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    candidates = assignments.join(probed, "cid")
    return (
        candidates.crossJoin(qv)
        .select(
            F.col("id"),
            q4(cosine_similarity(F.col("vec"), F.col("__qv__"))).alias("sim"),
        )
        .where(F.col("id") != query_id)
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
    )


def ivf_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    centroid_mode: str = "lowest_id",
    seed: int = 42,
    index: tuple[DataFrame, DataFrame] | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN for a query TABLE: top-k per query in ONE plan.

    :func:`ivf_topk` is the single-probe shape (one broadcast query
    vector); a production retrieval pass scores thousands of queries,
    and running one Spark job per query would pay the dispatch floor
    per probe.  This is the batched form: the (small) query set
    broadcasts, probes rank per query against the broadcast centroids,
    and ONE equi-join fans the inverted lists out to every query that
    probed them — per-query work shares the single pass over the
    assignments table.

    ``queries`` must carry ``(qid, qvec)`` (any column names — the
    first two columns are taken positionally).  Returns
    ``(qid, id, sim)`` — the k nearest ids per qid, ties broken on id
    (same contract as :func:`ivf_topk`).

    ``exclude_self`` (default True) drops candidates whose corpus id
    equals the query's qid — the in-corpus retrieval case, where qids
    ARE corpus ids.  When the query table has its OWN id namespace
    (qids not drawn from the corpus), pass ``exclude_self=False``:
    otherwise a legitimate neighbor with a coincidentally equal id
    would be silently dropped from the top-k (ADVICE r10).

    Scale shape: centroids + probed lists + the query set broadcast;
    the only shuffle is the per-qid top-k window over candidate rows
    (sum over queries of their probed lists' sizes — never all-pairs).
    At 100 TB grow ``num_centroids`` so each inverted list stays
    task-sized; the candidate volume is |queries| * nprobe *
    avg_list_size regardless of corpus size.
    """
    from pyspark.sql import Window

    qid_c, qvec_c = queries.columns[:2]
    q = F.broadcast(
        queries.select(
            F.col(qid_c).alias("qid"), F.col(qvec_c).alias("__qv__")
        )
    )
    centroids, assignments = index if index is not None else ivf_assign(
        df, id_col, vec_col, num_centroids, centroid_mode=centroid_mode, seed=seed
    )
    w_probe = Window.partitionBy("qid").orderBy(
        F.col("qsim").desc(), F.col("cid")
    )
    probed = F.broadcast(
        centroids.crossJoin(q)
        .select(
            "qid",
            "__qv__",
            "cid",
            q4(cosine_similarity(F.col("cvec"), F.col("__qv__"))).alias("qsim"),
        )
        .withColumn("__pr__", F.row_number().over(w_probe))
        .where(F.col("__pr__") <= nprobe)
        .select("qid", "__qv__", "cid")
    )
    w_k = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("id"))
    scored = assignments.join(probed, "cid").select(
        "qid",
        "id",
        q4(cosine_similarity(F.col("vec"), F.col("__qv__"))).alias("sim"),
    )
    if exclude_self:
        scored = scored.where(F.col("id") != F.col("qid"))
    return (
        scored
        .withColumn("__rk__", F.row_number().over(w_k))
        .where(F.col("__rk__") <= k)
        .select("qid", "id", "sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search" (the FAISS IndexPQ structure).  Round 6.
# ---------------------------------------------------------------------------
# Scale shape: vectors compress to m one-byte codes (64d float -> 8 bytes
# at m=8: a 32x memory cut), the codebook (codes x dim floats) broadcasts,
# and a query scans CODES not floats — asymmetric distance computation
# (ADC) is one m*codes lookup table per query plus an integer sum per
# vector.  Encode is a single broadcast-join pass; search shuffles one
# row per vector (map-side partial sum).  Everything below is pure
# Catalyst (slice / zip_with / aggregate) — no UDFs.
#
# Distances are quantized to integer 1e-4 units BEFORE the argmin/sum
# (the DSIR weight rule): code assignment ties break on the code id and
# the ADC sum is exact integer arithmetic, so results hash-match the
# DuckDB oracle despite floating-point squares.

PQ_QUANTUM = 10_000


def _sub_sqdist_q(vec, cvec, j, ds: int):
    """Quantized squared L2 distance between subvectors j of two arrays
    (1-based element index = j*ds + i).

    Unrolled per-dimension arithmetic, NOT slice + zip_with/aggregate:
    higher-order lambdas evaluate INTERPRETED (BASELINE.md round-5
    finding 1), and the encode pass runs this once per
    (vector, subspace, codeword).  ``ds`` is small by construction
    (2-8), so the expression tree stays compact and whole-stage codegen
    compiles the straight-line float math.
    """
    base = j * ds
    s = None
    for i in range(1, ds + 1):
        d = F.element_at(vec, base + i) - F.element_at(cvec, base + i)
        term = d * d
        s = term if s is None else s + term
    return F.floor(s * PQ_QUANTUM + F.lit(0.5)).cast("long")


def pq_codebooks(
    df: DataFrame, id_col: str, vec_col: str, codes: int = 16
) -> DataFrame:
    """``(code, cvec)`` — one shared codebook table whose per-subspace
    codewords are the sliced subvectors of the ``codes`` lowest-id
    vectors, with code ids assigned by RANK in that order (0..codes-1) —
    so sparse or offset id domains still yield a full codebook instead
    of a silently empty/undersized one (round-6 review finding).
    Deterministic and engine-portable (the ivf_assign ``lowest_id``
    convention); production swaps in per-subspace k-means — codebook
    quality is orthogonal to the encode/search machinery.  Rows with a
    NULL vector are skipped — a NULL codeword would poison every
    subspace distance it appears in."""
    from pyspark.sql import Window

    df = _non_null_vectors(df, vec_col)
    lowest = df.select(
        F.col(id_col).alias("__cb_id"), F.col(vec_col).alias("cvec")
    ).orderBy("__cb_id").limit(codes)
    # rank over ≤codes rows: the single-partition window is the point
    ranked = lowest.withColumn(
        "code",
        (F.row_number().over(Window.orderBy("__cb_id")) - 1).cast("int"),
    )
    return F.broadcast(ranked.select("code", "cvec"))


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """``(id, j, code)`` PQ codes: per subspace j, the codeword with the
    smallest quantized squared distance (ties -> lowest code).  One
    broadcast join + one (id, j) aggregate; the m-per-vector fan-out
    collapses map-side.

    Rows with a NULL vector are dropped at entry: every subspace
    distance would be NULL, and ``min(struct(dq, code))`` sorts NULL
    FIRST — a NULL row would silently encode as code 0 in every
    subspace, the conflate-NULL-with-real-value class the round-15
    audit targets.  A NULL vector has no code; it is simply absent
    from the index."""
    df = _non_null_vectors(df, vec_col)
    ds = dim // m
    sub = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .select("id", "vec", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"))
        .join(codebook, how="cross")
        .select(
            "id",
            "j",
            "code",
            _sub_sqdist_q(F.col("vec"), F.col("cvec"), F.col("j"), ds).alias("dq"),
        )
    )
    return (
        sub.groupBy("id", "j")
        .agg(F.min(F.struct("dq", "code")).alias("best"))
        .select("id", "j", F.col("best.code").alias("code"))
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    codes: int = 16,
    encoded: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k nearest (smallest L2) to ``query_id`` by ADC:
    the query builds an m x codes lookup table of quantized subspace
    distances, each encoded vector's approximate distance is the exact
    integer sum of its m table entries.  Returns ``(id, adist)`` ranked
    ascending.  Pass ``encoded`` (a prebuilt :func:`pq_encode` result) to
    amortize encoding across queries — the production pattern.
    ``codebook`` and ``encoded`` must come from the same
    :func:`pq_codebooks` table — pass both (or neither)."""
    if codebook is None:
        codebook = pq_codebooks(df, id_col, vec_col, codes)
    if encoded is None:
        encoded = pq_encode(df, id_col, vec_col, codebook, m, dim)
    ds = dim // m
    qv = _query_vector(df, id_col, vec_col, query_id)
    table = F.broadcast(
        codebook.crossJoin(qv)
        .select("code", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"), "cvec", "__qv__")
        .select(
            "j",
            "code",
            _sub_sqdist_q(F.col("__qv__"), F.col("cvec"), F.col("j"), ds).alias("tq"),
        )
    )
    return (
        encoded.join(table, ["j", "code"])
        .groupBy("id")
        .agg((F.sum("tq") / float(PQ_QUANTUM)).alias("adist"))
        .where(F.col("id") != query_id)
        .orderBy(F.col("adist").asc(), F.col("id"))
        .limit(k)
    )
