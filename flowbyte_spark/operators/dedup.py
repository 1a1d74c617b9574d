"""Deduplication operators for large-scale training-data pipelines.

Four tiers, from cheapest to fuzziest (charter scope — the reference has no
dedup; its closest capability is keyed overwrite, sql.py:191-249):

- exact row dedup            → hash shuffle on the subset columns
- content-hash dedup         → sha2/md5 digest + first-wins window
- n-gram Jaccard (exact)     → shingle explode + self-join on shingle
- MinHash / SimHash (approx) → signature → band keys → candidate join

The banded candidate search is written once, in :func:`banded_pairs`
(bucket self-join on (band, key) → distinct pairs → payload joined onto
both sides → caller's score).  MinHash keys each band by the xxhash64 of
its signature slice; SimHash here and SRP (``srp.py``) pack signatures
into a long and go through :func:`hamming_pairs`, whose keys are bit
slices and whose score is ``bit_count(pa XOR pb)``.

Scale notes: exact Jaccard shuffles (doc, shingle) pairs — fine to ~10⁹
shingles; past that, banding bounds the pair search to colliding
buckets, which is the 100 TB path.  All expressions are Catalyst built-ins;
nothing leaves the JVM.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flowbyte_spark.functions import ensure_parallelism
from flowbyte_spark.operators.cache import persist_tracked
from flowbyte_spark.functions.hashing import (
    SIMHASH_BITS,
    seeded_md5,
    word_shingles,
    words,
)


def dedup_exact(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact deduplication on ``subset`` (default: whole row).

    ``dropDuplicates`` is a hash aggregate on the subset — one shuffle,
    map-side partial dedup first.  Which surviving row wins is arbitrary;
    use :func:`dedup_by_content_hash` when a deterministic winner matters.
    """
    return df.dropDuplicates(list(subset) if subset else None)


def dedup_by_content_hash(
    df: DataFrame,
    content_columns: Sequence[str],
    order_by: Sequence[str],
    hash_algo: str = "sha2",
) -> DataFrame:
    """Keep exactly one row per content digest — the first by ``order_by``.

    Deterministic winner (unlike dropDuplicates).  The digest shuffle key
    also makes the subsequent groupBy skew-resistant: identical documents
    hash to one partition regardless of their source distribution.
    """
    content = F.concat_ws("\x1f", *[F.col(c) for c in content_columns])
    digest: Column = (
        F.sha2(content, 256) if hash_algo == "sha2" else F.md5(content)
    )
    w = Window.partitionBy("__digest__").orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__digest__", digest)
        .withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__digest__", "__rn__")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard ≥ threshold (exact).

    Plan shape: explode distinct shingles → self-join on shingle (shuffle
    co-locates equal shingles) → per-pair intersection counts → Jaccard from
    set sizes.  Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard
    rounded to 4 d.p. for canonical comparison.
    """
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            word_shingles(text_col, n).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        # persist: shingling runs once, not once per self-join side (and
        # keeps InferFiltersFromGenerate from inlining it into the scan);
        # tracked so cache.release_persisted() can reclaim storage memory
    )
    sh = persist_tracked(sh)
    exploded = sh.where(F.col("n_sh") > 0).select(
        "id", "n_sh", F.explode("sh").alias("g")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def banded_pairs(sigs: DataFrame, payload: DataFrame, score: Column) -> DataFrame:
    """Verified candidate pairs of a banded LSH search: the one bucket
    self-join behind MinHash, SimHash and SRP near-dup.

    ``sigs`` is ``(id, bands)`` with one key per band; two ids are a
    candidate iff they share a key in the same band.  ``payload`` is
    ``(id, p)`` and ``score`` is a column over ``pa``/``pb``, the two
    candidates' payloads.  Returns ``(id_a, id_b, score)`` (``score``
    keeps its alias) once per ``id_a < id_b`` candidate; the caller
    applies its threshold.

    Plan shape: ONE shuffle on (band, key) buckets — only colliding
    buckets produce pairs, never the O(n²) cross join — then ``distinct``
    (a pair sharing several bands is scored once) and the payload joined
    onto each side.  Pass both frames persisted: each is read twice.
    """
    keys = sigs.select("id", F.posexplode("bands").alias("band", "key"))
    a, b = keys.alias("a"), keys.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    pa = payload.select(F.col("id").alias("id_a"), F.col("p").alias("pa"))
    pb = payload.select(F.col("id").alias("id_b"), F.col("p").alias("pb"))
    return candidates.join(pa, "id_a").join(pb, "id_b").select("id_a", "id_b", score)


def hamming_pairs(
    sigs: DataFrame, n_bits: int, bands: int, width: int, max_hamming: int
) -> DataFrame:
    """``(id_a, id_b, hamming)`` for signatures packed into one long,
    ``sigs`` = ``(id, p)`` with the signature in the low ``n_bits`` bits.

    Band j is bits ``[j*width, (j+1)*width)`` counted from the signature's
    MSB (bit ``n_bits - 1``); bits below ``bands*width`` are in no band.
    With ``max_hamming < bands`` the pigeonhole principle makes recall
    perfect: two signatures that close agree on some band.  The distance
    is ``bit_count(pa XOR pb)``, one codegen expression per candidate.
    Pass ``sigs`` persisted.
    """
    mask = F.lit((1 << width) - 1)
    keys = sigs.select(
        "id",
        F.array(
            *[
                F.shiftrightunsigned("p", n_bits - (j + 1) * width).bitwiseAND(mask)
                for j in range(bands)
            ]
        ).alias("bands"),
    )
    dist = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("long")
    pairs = banded_pairs(keys, sigs, dist.alias("hamming"))
    return pairs.where(F.col("hamming") <= max_hamming)


def minhash_signatures(
    df: DataFrame, id_col: str, shingles_col: str, num_hashes: int
) -> DataFrame:
    """``(id, sig)`` MinHash signatures via explode + codegen aggregation.

    Semantically identical to the fold form (``hashing.minhash_signature``
    — kept as its oracle-anchored twin; equality pinned in
    tests/test_llm_operators.py) but executes inside whole-stage codegen:
    the higher-order ``transform(seeds, array_min(transform(sh, md5...)))``
    lambdas run INTERPRETED (BASELINE.md round-5 finding 1), while here
    each (doc, shingle) row projects its ``num_hashes`` seeded digests as
    plain columns and the per-seed minima are ordinary partial-aggregated
    ``min``s — the groupBy(id) exchange carries one ``num_hashes``-column
    row per (id, map partition), not the shingle stream.  Same
    md5(seed|shingle) family, same lexicographic min == numeric min over
    fixed-width lowercase hex.

    Rows whose shingle array is empty are dropped (explode of an empty
    array yields no rows, so the id never reaches the aggregate) — same
    contract as the ``size(sh) > 0`` guard every caller applies.
    """
    exploded = df.select(F.col(id_col).alias("id"), F.explode(shingles_col).alias("g"))
    hashed = exploded.select(
        "id",
        *[
            seeded_md5(F.lit(i), F.col("g")).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return (
        hashed.groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)])
        .select(
            "id",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding, verified
    with exact Jaccard.

    Three stages, all shuffle-bounded:
    1. signature: one pass, md5-family min-hashes over distinct shingles;
    2. candidates: :func:`banded_pairs` on ``bands`` keys, key j the
       xxhash64 of signature slice j (``num_hashes // bands`` rows);
    3. verify: exact Jaccard on the candidates' shingle sets, filter.

    Returns (id_a, id_b, jaccard) with id_a < id_b.  With b=8, r=4 the LSH
    S-curve crosses ~50% collision probability at jaccard ≈ (1/8)^(1/4) ≈
    0.59, so threshold=0.5 keeps verification honest (candidates below it
    are filtered by stage 3, not trusted from banding).
    """
    r = num_hashes // bands
    # Split-frame shape (r17, guide §4.1/§2.3): the shingle sets and the
    # band keys serve DISJOINT consumers — verification joins need (id,
    # sh), the bucket self-join needs (id, bands) — so they live in two
    # persisted frames and no (sh <-> sig) rejoin is ever paid.  The
    # signature comes from the codegen explode+aggregate kernel
    # (``minhash_signatures`` above).  r16 measured that rewrite 1.9x
    # faster in ISOLATION but a net loss at sf0.1, where the extra
    # exchange+persist stage constants beat the CPU saved; at the r17
    # heavy tier (x10 corpus) the regime inverts — interleaved A/B
    # 20.3 s -> 9.3 s end-to-end on v22 — which is the CPU-bound shape
    # a real cluster sees (OPTIMIZATION_r16.md negative-results note
    # predicted exactly this crossover).
    sh_df = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), word_shingles(text_col, n).alias("sh"))
        .where(F.size("sh") > 0)
        # persist = plan barrier + reuse: without it Catalyst's
        # InferFiltersFromGenerate synthesizes size(sh)>0 from the explode
        # below, pushes it to the parquet scan, and inlines the whole
        # shingling expression into a pre-repartition (serial!) filter —
        # then recomputes it per consumer.  Feeds the signature aggregate
        # and both verification legs.  Tracked for cache.release_persisted().
    )
    sh_df = persist_tracked(sh_df)
    # band j's key is the 8-byte xxhash64 of signature slice j: equal
    # slices give equal keys, and the shuffle carries a long per row
    sigs = persist_tracked(
        minhash_signatures(sh_df, "id", "sh", num_hashes).select(
            "id",
            F.array(
                *[F.xxhash64(F.slice("sig", j * r + 1, r)) for j in range(bands)]
            ).alias("bands"),
        )
    )
    jaccard = F.round(
        F.size(F.array_intersect("pa", "pb")) / F.size(F.array_union("pa", "pb")), 4
    ).alias("jaccard")
    pairs = banded_pairs(sigs, sh_df.withColumnRenamed("sh", "p"), jaccard)
    return pairs.where(F.col("jaccard") >= threshold)


def simhash_signatures(
    df: DataFrame, id_col: str, words_col: str, bits: int
) -> DataFrame:
    """``(id, bits)`` SimHash signatures via explode + codegen aggregation.

    Semantically identical to the fold form (``hashing.simhash_bits`` —
    kept as its oracle-anchored, equivalence-tested twin) but executes
    inside whole-stage codegen: higher-order ``aggregate`` lambdas run
    interpreted (BASELINE.md round-5 finding 1) and the fold form
    re-evaluates ``md5(word)`` per (word, bit) — 60 digests per word.
    Here each word is hashed ONCE on the exploded stream, its 15 nibbles
    are projected as plain integer columns, and the 60 bit-votes become
    ordinary ``sum`` aggregates — partial-aggregated map-side, so the
    shuffle carries one 60-column row per (doc, partition), not the word
    stream.  Measured 6x on the signature pass at sf0.1 (3.4 s → 0.55 s).

    Empty-doc parity with the fold form: ``explode_outer`` keeps one
    null-word row for an empty/null words array, whose md5 (and so every
    nibble) is null; ``sum`` over an all-null group yields null votes,
    coalesced to 0 in the final projection — the same all-zero signature
    ``hashing.simhash_bits`` returns, instead of silently dropping the
    document from the groupBy result.
    """
    from flowbyte_spark.functions.hashing import _nibble_value

    exploded = df.select(
        F.col(id_col).alias("id"), F.explode_outer(words_col).alias("w")
    ).withColumn("h", F.md5("w"))
    nibbles = exploded.select(
        "id",
        *[_nibble_value(F.col("h"), i).alias(f"n{i}") for i in range((bits + 3) // 4)],
    )
    votes = nibbles.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"n{b // 4}"), 3 - b % 4).bitwiseAND(F.lit(1)) * 2
                - F.lit(1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    return votes.select(
        "id",
        F.array(
            *[
                (F.coalesce(F.col(f"v{b}"), F.lit(0)) > 0).cast("int")
                for b in range(bits)
            ]
        ).alias("bits"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: 60-bit signatures, banded bucket
    join, exact Hamming verification.

    Pigeonhole guarantee: two signatures within ``max_hamming`` ≤ bands-1
    bits must agree on at least one of ``bands`` equal bit-slices, so the
    bucket join has perfect recall for the returned distance bound while
    avoiding the cross join.  Returns (id_a, id_b, hamming).
    """
    tokens = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), words(text_col).alias("w"))
        .where(F.size("w") > 0)
    )
    # The signature packed into ONE long (60 bits fit a signed 64-bit
    # lane), MSB-first so band j is array slice j and bit_count(pa XOR pb)
    # is the elementwise |a-b| sum (pinned in tests/test_llm_operators.py;
    # at the r17 heavy tier this verify leg went 7.7 s -> 0.5 s over 24.5M
    # candidates).  The fold is interpreted but runs once per DOCUMENT.
    # Persisted: same InferFiltersFromGenerate trap as minhash_lsh_pairs,
    # and hamming_pairs reads it three times; tracked for
    # cache.release_persisted().
    sigs = persist_tracked(
        simhash_signatures(tokens, "id", "w", SIMHASH_BITS).select(
            "id",
            F.aggregate(
                F.col("bits"), F.lit(0).cast("long"), lambda acc, x: acc * 2 + x
            ).alias("p"),
        )
    )
    return hamming_pairs(sigs, SIMHASH_BITS, bands, SIMHASH_BITS // bands, max_hamming)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def benchmark_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Training documents sharing at least one word ``n``-gram with the
    benchmark corpus, with the matched-gram count.

    The eval-set leakage check every LLM data pipeline runs before
    training: returns ``(id, n_matched)`` for contaminated docs — callers
    drop them with an anti-join (see ``decontaminate``).

    Plan: distinct benchmark grams (small side — benchmarks are thousands
    of docs, so AQE broadcasts the deduped gram set) semi-joined against
    the exploded train grams; one shuffle on the gram key at worst,
    map-side broadcast probe at best.  Long n (default 8) keeps chance
    collisions near zero so matches mean real overlap.
    """
    # No fan-out on the benchmark side: evals are small by definition, and
    # an extra round-robin exchange + AQE stage costs more than exploding
    # a few thousand docs on their natural partitioning.  No DISTINCT on
    # the build side either: the countDistinct aggregate below already
    # collapses duplicate-gram matches, so deduping before the broadcast
    # buys nothing semantically and costs a whole exchange + AQE stage
    # (measured: the distinct alone doubled the query, 0.36 -> 0.72 s at
    # sf0.1).  The trade is a broadcast of raw rather than deduped bench
    # grams — bounded by eval-corpus size, which is small by definition;
    # re-add a distinct only if a pathological benchmark repeats grams
    # heavily enough to threaten the broadcast threshold.
    bench_grams = _exploded_ngrams(bench, id_col, text_col, n).select("g")
    train_grams = _exploded_ngrams(ensure_parallelism(train), id_col, text_col, n)
    # count DISTINCT matched grams: a doc repeating a gram matches it once
    # (same semantics as word_shingles' per-doc array_distinct) — the
    # distinct lives in the aggregate, not an extra pre-join shuffle.
    return (
        train_grams.join(bench_grams, "g")
        .groupBy("id")
        .agg(F.countDistinct("g").alias("n_matched"))
    )


def _exploded_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, gram) rows via explode-the-offsets, NOT explode-the-array.

    ``word_shingles`` builds the gram array with ``transform`` — a
    higher-order function Catalyst evaluates INTERPRETED (no whole-stage
    codegen), which at millions of grams turns into an allocation storm
    with wildly variable wall times (measured 3-44 s run-to-run on the
    same data).  Exploding the offset sequence and computing one gram per
    row with plain ``slice``+``array_join`` keeps every expression inside
    codegen; per-doc gram dedup moves to a (id, gram) shuffle, which is
    the stable, linearly-scaling form.  Word-array semantics match
    word_shingles exactly (same split, same n-window).
    """
    w = F.split(F.col(text_col), " ")
    extra = list(extra_cols)
    return (
        df.select(F.col(id_col).alias("id"), *extra, w.alias("w"))
        .where(F.size("w") >= n)
        .select(
            "id",
            *extra,
            "w",
            F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"),
        )
        .select(
            "id",
            *extra,
            F.array_join(F.slice("w", F.col("i"), n), " ").alias("g"),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """``train`` minus every benchmark-contaminated document (left
    anti-join on :func:`benchmark_contamination`)."""
    hits = benchmark_contamination(train, bench, id_col, text_col, n)
    return train.join(
        hits.withColumnRenamed("id", id_col).select(id_col),
        id_col,
        "left_anti",
    )
