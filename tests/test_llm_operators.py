"""Unit/property tests for LLM-data operators beyond the oracle checks:
approximation quality (LSH recall, IVF recall) and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from flowbyte_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    with_media_column,
)
from flowbyte_spark.operators.similarity import cosine_topk, ivf_topk

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_recall_covers_high_jaccard_pairs(spark):
    """LSH candidates must include every pair the exact method finds at a
    similarity well above the banding S-curve threshold."""
    docs = load_table(spark, SF, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-duplicate pairs"
    missing = exact - approx
    assert not missing, f"LSH missed high-similarity pairs: {missing}"


def test_ivf_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = [r.id for r in cosine_topk(emb, "vec_id", "embedding", 7, k=5).collect()]
    approx = [
        r.id
        for r in ivf_topk(
            emb, "vec_id", "embedding", 7, k=5, num_centroids=16, nprobe=4
        ).collect()
    ]
    # ANN with nprobe=4/16 should recover most of the true top-5
    overlap = len(set(exact) & set(approx))
    assert overlap >= 3, f"IVF recall too low: {overlap}/5 ({exact} vs {approx})"


def test_ivf_kmeans_centroids_recall(spark):
    """The seeded k-means quantizer must be deterministic within a session
    and beat the lowest-id quantizer on average recall@5 (measured at
    0.725 vs 0.525 over these queries at sf0.001)."""
    emb = load_table(spark, SF, "embeddings")
    qids = [7, 23, 55, 101, 200]

    def avg_recall(mode):
        total = 0
        for q in qids:
            exact = {
                r.id for r in cosine_topk(emb, "vec_id", "embedding", q, k=5).collect()
            }
            approx = {
                r.id
                for r in ivf_topk(
                    emb, "vec_id", "embedding", q, k=5,
                    num_centroids=16, nprobe=4, centroid_mode=mode, seed=42,
                ).collect()
            }
            total += len(exact & approx)
        return total / (5 * len(qids))

    def run_one():
        return [
            r.id
            for r in ivf_topk(
                emb, "vec_id", "embedding", 7, k=5,
                num_centroids=16, nprobe=4, centroid_mode="kmeans", seed=42,
            ).collect()
        ]

    assert run_one() == run_one(), "seeded k-means quantizer must be deterministic"
    km, low = avg_recall("kmeans"), avg_recall("lowest_id")
    assert km >= 0.6, f"k-means IVF avg recall too low: {km}"
    assert km >= low, f"k-means quantizer should not lose to lowest-id: {km} < {low}"


def test_extract_features_strict_mode_raises(spark):
    docs = load_table(spark, SF, "documents").limit(4)
    media = with_media_column(docs, "text")
    with pytest.raises(Exception) as exc_info:
        extract_features(media, fake_decode=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_extract_features_batch_shape(spark):
    docs = load_table(spark, SF, "documents").limit(10)
    media = with_media_column(docs, "text")
    out = extract_features(media, batch_size=4, fake_decode=True)
    rows = out.collect()
    assert len(rows) == 10
    assert all(len(r.features) == FEATURE_DIM for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.features)
    assert all(r.n_bytes > 0 for r in rows)
    # schema contract
    assert [f.name for f in out.schema.fields] == [
        "media_id",
        "kind",
        "n_bytes",
        "features",
    ]


def test_fingerprint_blocks_exact_duplicates(spark):
    from flowbyte_spark.operators.text import fingerprint

    docs = load_table(spark, SF, "documents").limit(20)
    dup = docs.unionByName(docs)  # every doc duplicated
    fp = fingerprint(dup, "text", "fp")
    counts = [r["count"] for r in fp.groupBy("fp").count().collect()]
    # identical texts always collide -> every block has even size >= 2;
    # near-duplicate docs may legitimately share one fingerprint (that is
    # the blocking property), so the number of blocks can be < 20
    assert sum(counts) == 40
    assert all(c >= 2 and c % 2 == 0 for c in counts)


def test_dedup_caches_are_tracked_and_releasable(spark):
    """Operator-internal persists must be reclaimable: repeated LSH calls
    in a long-lived session would otherwise accumulate storage blocks."""
    from flowbyte_spark.operators import cache
    from flowbyte_spark.operators.dedup import minhash_lsh_pairs

    cache.release_persisted()  # start clean
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_lsh_pairs(docs, id_col="doc_id", text_col="text")
    pairs.count()  # materialize (callers must act before releasing)
    released = cache.release_persisted()
    assert released >= 1
    # releasing is idempotent and leaves the plan recomputable
    assert cache.release_persisted() == 0
    assert pairs.count() >= 0


def test_ivf_assign_gemm_matches_fold(spark):
    """The vectorized (BLAS) assignment must reproduce the pure-Catalyst
    fold assignment row-for-row: same cluster for every vector (q4-rounded
    sims, lowest-cid tie-break) — the invariant that lets semantic_dedup
    ride the GEMM path while v25's oracle pins the fold arithmetic."""
    from flowbyte_spark.operators.similarity import ivf_assign

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    _, fold = ivf_assign(emb, "vec_id", "embedding", 16, assign_mode="fold")
    _, gemm = ivf_assign(emb, "vec_id", "embedding", 16, assign_mode="gemm")
    f = {r["id"]: r["cid"] for r in fold.select("id", "cid").collect()}
    g = {r["id"]: r["cid"] for r in gemm.select("id", "cid").collect()}
    assert f == g


def test_semantic_dedup_pair_modes_agree(spark):
    """gemm and join prune paths produce the identical kept-set."""
    from flowbyte_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    out = {}
    for mode in ("gemm", "join"):
        rows = semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.45, pair_mode=mode
        ).collect()
        out[mode] = {(r["id"], r["cid"], r["kept"]) for r in rows}
    assert out["gemm"] == out["join"]
    assert any(not kept for _, _, kept in out["gemm"]), (
        "fixture should prune at least one near-duplicate"
    )


def test_dsir_importance_degenerate_targets(spark):
    """Empty target set and all-target set both stay defined (add-1
    smoothing) — an empty target must not NaN/crash, and target==corpus
    collapses every weight toward a constant."""
    from pyspark.sql import functions as F

    from flowbyte_spark.operators.importance import dsir_importance

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    none = dsir_importance(docs, "doc_id", "text", target=F.lit(False))
    allt = dsir_importance(docs, "doc_id", "text", target=F.lit(True))
    n_pdf, a_pdf = none.toPandas(), allt.toPandas()
    assert len(n_pdf) == len(a_pdf) > 0
    assert n_pdf["score"].notna().all()
    assert a_pdf["score"].notna().all()
    # With target == corpus, ct_b == cr_b, so each bucket weight is the
    # constant ln((R+B)/(T+B)) = 0 — every doc scores exactly 0.
    assert (a_pdf["score"] == 0.0).all()


def test_dsir_lookup_paths_agree(spark, monkeypatch):
    """The array-literal lookup (the fast path) and the str_to_map
    broadcast-join fallback (wider-than-literal tables) implement the
    same scoring — pin them against each other at IDENTICAL bucket
    geometry by shrinking the array-literal bound to force the
    fallback."""
    from pyspark.sql import functions as F

    from flowbyte_spark.operators import importance

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    target = F.col("lang") == "en"

    def canon(df):
        return sorted(
            (r.id, r.n_grams, float(r.score)) for r in df.collect()
        )

    fast = canon(
        importance.dsir_importance(docs, "doc_id", "text", target=target)
    )
    monkeypatch.setattr(importance, "ARRAY_LOOKUP_MAX_BUCKETS", 0)
    slow = canon(
        importance.dsir_importance(docs, "doc_id", "text", target=target)
    )
    assert fast == slow and len(fast) > 0


def test_semantic_dedup_threshold_extremes(spark):
    """threshold > 1 prunes nothing (cosine ≤ 1); threshold = -1 prunes
    everything except each cluster's lowest id."""
    from flowbyte_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    keep_all = semantic_dedup(emb, "vec_id", "embedding", threshold=1.01)
    pdf = keep_all.toPandas()
    assert pdf["kept"].all()
    exemplars = semantic_dedup(emb, "vec_id", "embedding", threshold=-1.0)
    e_pdf = exemplars.toPandas()
    kept_per_cluster = e_pdf.groupby("cid")["kept"].sum()
    assert (kept_per_cluster == 1).all()
    # and the survivor is the lowest id of its cluster
    mins = e_pdf.groupby("cid")["id"].min().reset_index()
    kept_ids = set(e_pdf.loc[e_pdf.kept, "id"])
    assert kept_ids == set(mins["id"])


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    """Edge cases the oracle fixture can't isolate: same-doc repeats,
    cross-doc keep-first by (id, pos), full dedup to empty string, and
    single-paragraph docs."""
    from flowbyte_spark.operators.paragraphs import paragraph_dedup

    rows = [
        (1, "alpha\nbeta\nalpha"),  # same-doc repeat: 3rd para drops
        (2, "beta\ngamma"),  # beta already seen in doc 1
        (3, "alpha\nbeta"),  # fully deduplicated
        (4, "delta"),  # untouched single paragraph
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.id: (r.text_dedup, r.n_kept, r.n_paras)
        for r in paragraph_dedup(df, "doc_id", "text").collect()
    }
    assert out == {
        1: ("alpha\nbeta", 2, 3),
        2: ("gamma", 1, 2),
        3: ("", 0, 2),
        4: ("delta", 1, 1),
    }


def test_paragraph_dedup_is_partitioning_independent(spark):
    """Keep-first is defined by (id, pos), not physical order: the result
    must be identical however the input is partitioned."""
    from flowbyte_spark.operators.paragraphs import paragraph_dedup

    rows = [(i, " ".join(f"w{(i * 7 + j) % 5}" for j in range(6)).replace(" ", "\n", 2)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, paragraph_dedup(df, "doc_id", "text").collect()))
    b = sorted(
        map(
            tuple,
            paragraph_dedup(df.repartition(13, "text"), "doc_id", "text").collect(),
        )
    )
    assert a == b


def test_minhash_signature_forms_agree(spark):
    """The codegen explode+agg signature path (r17 split-frame kernel)
    must equal the fold-form twin (hashing.minhash_signature)
    bit-for-bit on real corpus text, and empty-shingle docs must drop
    out of both."""
    from flowbyte_spark.functions.hashing import minhash_signature, word_shingles
    from flowbyte_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, SF, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles("text", 3).alias("sh")
    ).where(F.size("sh") > 0)
    fold = {
        r.id: tuple(r.sig)
        for r in sh.withColumn("sig", minhash_signature(F.col("sh"), 32))
        .select("id", "sig")
        .collect()
    }
    agg = {
        r.id: tuple(r.sig)
        for r in minhash_signatures(sh, "id", "sh", 32).collect()
    }
    assert fold and fold == agg
    # an empty shingle array yields no signature row from the aggregate
    # (the explode emits nothing), matching the size(sh) > 0 caller guard
    empty = spark.createDataFrame(
        [(1, []), (2, ["a b c"])], "id long, sh array<string>"
    )
    got = {r.id for r in minhash_signatures(empty, "id", "sh", 4).collect()}
    assert got == {2}


def test_packed_hamming_matches_array_form(spark):
    """simhash_pairs' packed-long verification (bit_count of XOR over
    MSB-first-packed signatures) must equal the array-form twin
    (hashing.hamming_distance) on real signature pairs."""
    from flowbyte_spark.functions.hashing import (
        SIMHASH_BITS,
        hamming_distance,
        words,
    )
    from flowbyte_spark.operators.dedup import simhash_signatures

    docs = load_table(spark, SF, "documents").limit(200)
    tokens = docs.select(
        F.col("doc_id").alias("id"), words("text").alias("w")
    ).where(F.size("w") > 0)
    sigs = simhash_signatures(tokens, "id", "w", SIMHASH_BITS).withColumn(
        "pk",
        F.aggregate(
            F.col("bits"), F.lit(0).cast("long"), lambda acc, x: acc * 2 + x
        ),
    )
    a = sigs.select(
        F.col("id").alias("ia"), F.col("bits").alias("ba"), F.col("pk").alias("pa")
    )
    b = sigs.select(
        F.col("id").alias("ib"), F.col("bits").alias("bb"), F.col("pk").alias("pb")
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        hamming_distance(F.col("ba"), F.col("bb")).alias("arr"),
        F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("packed"),
    )
    assert pairs.where(F.col("arr") != F.col("packed")).count() == 0
    assert pairs.count() > 0


def _packed_signatures(n_bits: int) -> list[tuple[int, int]]:
    """200 signatures as signed longs: 40 random bases, each with five
    variants a few bit flips away (near pairs sharing some bands)."""
    import random

    rng = random.Random(7)
    out = []
    for _ in range(40):
        base = rng.getrandbits(n_bits)
        for _ in range(5):
            v = base
            for bit in rng.sample(range(n_bits), rng.randint(0, 12)):
                v ^= 1 << bit
            out.append(v - (1 << 64) if v >> 63 else v)
    return list(enumerate(out))


def test_hamming_pairs_matches_bruteforce(spark):
    """hamming_pairs == every pair with some equal MSB-first band and
    popcount(xor) <= max, each pair once.  (60, 7, 8) leaves the low 4
    bits in no band, so LSB-first bands would pick other pairs; the
    64-bit signatures include values with bit 63 set."""
    from flowbyte_spark.operators.dedup import hamming_pairs

    max_hamming, u64 = 20, (1 << 64) - 1
    for n_bits, bands, width in [(64, 16, 4), (60, 4, 15), (60, 7, 8)]:
        sigs = _packed_signatures(n_bits)

        def key(p, j):
            return ((p & u64) >> (n_bits - (j + 1) * width)) & ((1 << width) - 1)

        want = sorted(
            (ia, ib, bin((pa ^ pb) & u64).count("1"))
            for ia, pa in sigs
            for ib, pb in sigs
            if ia < ib
            and bin((pa ^ pb) & u64).count("1") <= max_hamming
            and any(key(pa, j) == key(pb, j) for j in range(bands))
        )
        df = spark.createDataFrame(sigs, "id long, p long")
        got = sorted(
            tuple(r)
            for r in hamming_pairs(df, n_bits, bands, width, max_hamming).collect()
        )
        assert want and got == want, (n_bits, bands, width)
        assert any(p < 0 for _, p in sigs) == (n_bits == 64)


def test_simhash_signature_forms_agree(spark):
    """The codegen explode+agg signature path must equal the fold-form
    twin (hashing.simhash_bits) bit-for-bit on real corpus text."""
    from flowbyte_spark.functions.hashing import SIMHASH_BITS, simhash_bits, words
    from flowbyte_spark.operators.dedup import simhash_signatures

    docs = load_table(spark, SF, "documents")
    tokens = docs.select(
        F.col("doc_id").alias("id"), words("text").alias("w")
    ).where(F.size("w") > 0)
    fold = {
        r.id: tuple(r.bits)
        for r in tokens.withColumn("bits", simhash_bits(F.col("w")))
        .select("id", "bits")
        .collect()
    }
    agg = {
        r.id: tuple(r.bits)
        for r in simhash_signatures(tokens, "id", "w", SIMHASH_BITS).collect()
    }
    assert fold == agg


def test_resize_media_contract(spark):
    from flowbyte_spark.operators.multimodal import resize_media

    docs = load_table(spark, SF, "documents").limit(8)
    media = with_media_column(docs, "text")
    out = resize_media(media, 224, 224, batch_size=3, fake_decode=True)
    rows = out.collect()
    assert len(rows) == 8
    # canonical shape preserved (nullability flags may differ)
    assert out.schema.simpleString() == media.schema.simpleString()
    assert all(r.meta.width == 224 and r.meta.height == 224 for r in rows)
    assert all(r.meta.mime == "application/octet-stream" for r in rows)
    # deterministic fake payload: same input -> same bytes across runs
    again = {r.media_id: bytes(r.payload) for r in
             resize_media(media, 224, 224, fake_decode=True).collect()}
    assert {r.media_id: bytes(r.payload) for r in rows} == again
    # non-image rows pass through untouched
    audio = with_media_column(docs, "text", kind="audio")
    kept = resize_media(audio, 224, 224, fake_decode=True).collect()
    orig = {r.media_id: bytes(r.payload) for r in audio.collect()}
    assert all(bytes(r.payload) == orig[r.media_id] for r in kept)
    assert all(r.meta.width is None for r in kept)
    with pytest.raises(Exception):
        resize_media(media, 2, 2, fake_decode=False).collect()


def test_sample_frames_contract(spark):
    from flowbyte_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAMES_SCHEMA,
        sample_frames,
    )

    docs = load_table(spark, SF, "documents").limit(6)
    video = with_media_column(docs, "text", kind="video", duration_ms=3500)
    out = sample_frames(video, every_ms=1000, fake_decode=True)
    assert out.schema == FRAMES_SCHEMA
    rows = out.collect()
    # 3500 ms at 1 frame/s -> 3 frames per video
    assert len(rows) == 18
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append((r.frame_idx, r.ts_ms))
        assert len(r.payload) == FRAME_BYTES
    assert all(sorted(v) == [(0, 0), (1, 1000), (2, 2000)] for v in by_media.values())
    # unknown duration -> a single t=0 frame; non-video -> no frames
    nodur = with_media_column(docs, "text", kind="video")
    assert sample_frames(nodur, fake_decode=True).count() == 6
    image = with_media_column(docs, "text", kind="image")
    assert sample_frames(image, fake_decode=True).count() == 0
    with pytest.raises(Exception):
        sample_frames(video, fake_decode=False).collect()
    # per-frame featurization composes: frames re-enter the media shape
    frames = sample_frames(video, every_ms=1000, fake_decode=True)
    refeat = extract_features(
        frames.select(
            F.col("media_id"),
            F.lit("image").alias("kind"),
            "payload",
        ),
        fake_decode=True,
    )
    assert refeat.count() == 18


def test_text_helpers_null_text_yields_null_not_sentinel(spark):
    # Round-15 (r14 size(NULL) audit's deferred sites): under the
    # engine's non-ANSI sessions size(NULL) = -1, which leaked -1 into
    # token/word counts, alpha_ratio = (-1)/(-1) = 1.0 into quality
    # features, and an all-tied argmax (every language scored -1) into
    # lang_id, classifying missing text as the first profile language.
    from flowbyte_spark.operators.text import (
        lang_id,
        quality_features,
        token_count,
    )

    df = spark.createDataFrame(
        [(1, "the cat and the hat is big"), (2, None)], "id int, text string"
    )
    tc = {r["id"]: r["tc"] for r in df.select("id", token_count("text").alias("tc")).collect()}
    assert tc[1] == 7 and tc[2] is None
    qf = {r["id"]: r for r in quality_features(df).collect()}
    assert qf[1]["n_words"] == 7 and qf[1]["quality_score"] is not None
    for c in ("n_words", "n_tokens", "alpha_ratio", "stop_ratio",
              "punct_ratio", "avg_word_len", "quality_score"):
        assert qf[2][c] is None, (c, qf[2][c])
    lp = {r["id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert lp[1] == "en" and lp[2] is None


def test_gopher_quality_gate_rules(spark):
    from flowbyte_spark.operators.text import gopher_quality_gate

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, good),                                   # passes every rule
        (2, "short text only"),                      # word-count floor
        (3, "aa " * 13 + "aa"),                      # no stopwords, thin alpha ok
        (4, good.replace("quick", "### ### ###")),   # symbol ratio
        (5, "- one two\n- three four\n- five six"),  # all-bullet lines
        (6, "one two three...\nfour five six..."),   # all-ellipsis lines
        (7, good.replace("brown", "12345 67890 11111 22222")),  # alpha frac
    ]
    out = {
        r.id: r
        for r in gopher_quality_gate(
            spark.createDataFrame(rows, "id long, text string"),
            min_words=10,
        ).collect()
    }
    assert out[1].gopher_pass
    assert not out[2].gopher_pass and not out[2].r_word_count
    assert not out[3].gopher_pass and not out[3].r_stopwords
    assert not out[4].gopher_pass and not out[4].r_symbol_ratio
    assert not out[5].gopher_pass and not out[5].r_bullet_lines
    assert not out[6].gopher_pass and not out[6].r_ellipsis_lines
    assert not out[7].gopher_pass and not out[7].r_alpha_words
    # multi-line docs tokenize on whitespace RUNS: words never glue
    # across newlines, so counts/stopwords stay correct (reviewer case)
    ml = gopher_quality_gate(
        spark.createDataFrame(
            [(9, "the cat sat down.\nthe dog ran far.\nthe fox hid well.")],
            "id long, text string",
        ),
        min_words=10,
    ).collect()[0]
    assert ml.r_word_count and ml.r_stopwords and ml.r_alpha_words
    assert ml.gopher_pass
    # map-only: no shuffle anywhere
    from flowbyte_spark import plans
    from flowbyte_spark.catalog import load_table

    df = gopher_quality_gate(load_table(spark, SF, "documents"))
    assert plans.shuffle_exchanges(df) == 0, plans.physical_plan(df)


def test_simhash_signatures_keep_empty_docs(spark):
    """ADVICE r5: an empty words array must yield the fold form's
    all-zero signature row, not silently vanish from the groupBy."""
    from flowbyte_spark.functions.hashing import SIMHASH_BITS
    from flowbyte_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, ["alpha", "beta"]), (2, []), (3, None)],
        "id long, w array<string>",
    )
    out = {r.id: tuple(r.bits) for r in
           simhash_signatures(df, "id", "w", SIMHASH_BITS).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] == (0,) * SIMHASH_BITS
    assert out[3] == (0,) * SIMHASH_BITS
    assert out[1] != (0,) * SIMHASH_BITS


def test_gopher_gate_empty_doc_rules_are_boolean(spark):
    """ADVICE r5: ratio rules on an empty/whitespace doc must come out
    False, never NULL (NULLs skew avg()-based kill-rate measurement)."""
    from flowbyte_spark.operators.text import gopher_quality_gate

    rows = gopher_quality_gate(
        spark.createDataFrame(
            [(1, ""), (2, "   \n\t  "), (3, None)], "id long, text string"
        ),
        min_words=10,
    ).collect()
    rule_cols = [c for c in rows[0].asDict() if c.startswith("r_")]
    for r in rows:
        if r.text is None:
            continue  # null text propagates null (documented SQL nulls)
        for c in rule_cols:
            assert r[c] is not None, f"id={r.id} rule {c} is NULL"
        assert r.gopher_pass is False


def test_split_rejoin_operators_treat_sep_literally(spark):
    """ADVICE r5: a separator containing regex metacharacters must split
    and rejoin consistently (F.split regex vs array_join literal)."""
    from flowbyte_spark.operators.paragraphs import paragraph_dedup
    from flowbyte_spark.operators.quality_filter import c4_quality_filter
    from flowbyte_spark.operators.substrings import exact_substring_dedup

    sep = "|.|"  # pipe + dot: both regex metacharacters
    df = spark.createDataFrame(
        [(1, f"alpha beta{sep}gamma delta{sep}alpha beta"),
         (2, f"alpha beta{sep}unique para here")],
        "id long, text string",
    )
    out = {r.id: r for r in
           paragraph_dedup(df, "id", "text", sep=sep).collect()}
    assert out[1].text_dedup == f"alpha beta{sep}gamma delta"
    assert out[2].text_dedup == "unique para here"

    # substr dedup with a metachar token separator round-trips unchanged
    # when nothing is duplicated at window length k
    sdf = spark.createDataFrame(
        [(1, "a.b.c.d.e"), (2, "v.w.x.y.z")], "id long, text string"
    )
    sres = {r.id: r for r in
            exact_substring_dedup(sdf, "id", "text", k=3, sep=".").collect()}
    assert sres[1].text_dedup == "a.b.c.d.e"
    assert sres[1].n_tokens == 5 and sres[1].n_kept == 5

    # c4 with a dotted line separator keeps line structure intact
    cdf = spark.createDataFrame(
        [(1, "the cat sat on the warm mat today.|.|the dog ran far away.")],
        "id long, text string",
    )
    cres = c4_quality_filter(
        cdf, "id", "text", sep="|.|", min_words=3, min_kept_lines=1
    ).collect()
    assert cres and cres[0].text_clean.count("|.|") == 1
