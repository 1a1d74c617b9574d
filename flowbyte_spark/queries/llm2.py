"""Round-5 LLM-pipeline verification queries, continued (V78+).

Charter-extension operators with no counterpart in the reference
(`src/flowbyte/sql.py` delegates every set operation to SQL Server);
algorithms follow the published pipelines cited in each operator module.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.operators.paragraphs import paragraph_dedup
from flowbyte_spark.operators.quality_filter import c4_quality_filter
from flowbyte_spark.queries import register

# ---------------------------------------------------------------------------
# V78 — corpus-wide paragraph dedup (CCNet-style keep-first + reassembly)
# ---------------------------------------------------------------------------
# The fixture corpus is single-line, so both engines first derive
# paragraphs deterministically: a codegen-only regexp turns every 3rd
# word boundary into a newline (greedy, left-to-right, identical in Java
# regex and RE2).  ~19% of the resulting 3-word paragraphs are corpus-
# level repeats at sf0.01, and some documents dedup away entirely — so
# the hash gate exercises keep-first ordering, same-doc repeats, empty
# reassembly, and the (id, pos) tie-break all at once.
_PARA_WORDS = 3
_CHUNK_RE = r"((?:\S+ ){%d}\S+) " % (_PARA_WORDS - 1)


@register(
    "v78_paragraph_dedup",
    oracle=rf"""
    WITH chunked AS (
        SELECT doc_id,
               regexp_replace(text, '{_CHUNK_RE}', '\1' || chr(10), 'g')
                   AS ptext
        FROM documents),
    p AS (
        SELECT doc_id,
               unnest(string_split(ptext, chr(10))) AS para,
               unnest(range(1, len(string_split(ptext, chr(10))) + 1)) AS pos
        FROM chunked),
    flagged AS (
        SELECT doc_id, para, pos,
               ROW_NUMBER() OVER (PARTITION BY para
                                  ORDER BY doc_id, pos) AS rn
        FROM p),
    rebuilt AS (
        SELECT doc_id,
               string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
               COUNT(*) AS n_kept
        FROM flagged WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.text_dedup, '') AS text_dedup,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(string_split(c.ptext, chr(10))) AS BIGINT) AS n_paras
    FROM documents d
    JOIN chunked c USING (doc_id)
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def v78_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide keep-first paragraph dedup over the documents table:
    every 3-word pseudo-paragraph occurrence after its global first (by
    doc_id, then position) is dropped and documents are reassembled in
    order.  The full (doc_id, text_dedup, n_kept, n_paras) table is
    hash-checked, so a wrong survivor, a broken tie-break, or an
    out-of-order rebuild all break the gate.  No cosmetic final ORDER BY
    on either side: dedup output has no inherent order, the driver (and
    the oracle harness) compare row multisets, and the range exchange a
    global sort plans costs more than the rest of the query at fixture
    scale (measured +0.6 s for the sampling pass + shuffle + AQE
    barrier)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", _CHUNK_RE, "$1\n").alias("ptext"),
    )
    return paragraph_dedup(docs, "doc_id", "ptext", sep="\n").withColumnRenamed(
        "id", "doc_id"
    )

# ---------------------------------------------------------------------------
# V79 — C4-style heuristic quality filtering (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------
# The fixture corpus is single-line unpunctuated word soup, so both
# engines first decorate it deterministically — all codegen-safe regex,
# no HOF lambdas (BASELINE.md round-5 finding 3): every 4th word boundary
# becomes a newline, lines whose last letter is in [etwa] (~45% of
# fixture word types) gain a terminal '.', and documents whose md5 starts
# with '0' gain a trailing ' {'.  Every C4 rule then has a live kill path
# on the fixture: terminal punctuation (undecorated lines), the word
# floor (ragged tail lines), the line blocklist ('slow' is a fixture
# word), the page blocklist ('{'-decorated docs), and the >=3-kept-lines
# page floor.
_C4_WORDS = 4
_C4_CHUNK_RE = r"((?:\S+ ){%d}\S+) " % (_C4_WORDS - 1)
_C4_PUNCT_RE = r"(?m)([etwa])$"


@register(
    "v79_c4_quality_filter",
    oracle=rf"""
    WITH chunked AS (
        SELECT doc_id,
               regexp_replace(text, '{_C4_CHUNK_RE}', '\1' || chr(10), 'g')
                   AS pt
        FROM documents),
    decorated AS (
        SELECT doc_id,
               regexp_replace(pt, '{_C4_PUNCT_RE}', '\1.', 'g') AS t1
        FROM chunked),
    doc AS (
        SELECT doc_id,
               t1 || CASE WHEN substring(md5(t1), 1, 1) = '0'
                          THEN ' {{' ELSE '' END AS text
        FROM decorated),
    pages AS (
        SELECT doc_id, text FROM doc
        WHERE NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(lower(text), '{{')),
    lines AS (
        SELECT doc_id,
               len(string_split(text, chr(10))) AS n_lines,
               unnest(range(0, len(string_split(text, chr(10))))) AS pos,
               unnest(string_split(text, chr(10))) AS line
        FROM pages),
    kept AS (
        SELECT * FROM lines
        WHERE len(regexp_extract_all(line, '\S+')) >= {_C4_WORDS}
          AND regexp_matches(line, '[.!?"]\s*$')
          AND NOT contains(lower(line), 'slow'))
    SELECT doc_id AS id,
           string_agg(line, chr(10) ORDER BY pos) AS text_clean,
           CAST(any_value(n_lines) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id HAVING COUNT(*) >= 3
    """,
)
def v79_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's line- and page-level quality rules over the documents table:
    keep lines with >=4 words ending in terminal punctuation and no
    blocklist word; drop pages containing '{' / 'lorem ipsum' or with
    fewer than 3 surviving lines; reassemble survivors in order.  The
    full (id, text_clean, n_lines, n_kept) table is hash-checked, so a
    mis-dropped line, a broken reassembly order, or an off-by-one on
    either floor breaks the gate.  The rule pass is whole-stage codegen;
    plan shape asserted in tests/test_quality_filter.py.  The raw docs
    fan out BEFORE decoration so the regex passes parallelize on the
    single-file fixture (the operator's own fan-out would land above
    them in the plan); the under-parallel check uses Spark's file-packing
    formula on scan metadata (scan_partitions) rather than a plan->RDD
    conversion, which costs ~0.2 s per planning pass."""
    from flowbyte_spark.catalog import table_path
    from flowbyte_spark.operators.ordering import scan_partitions

    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    if scan_partitions(spark, table_path(sf_dir, "documents")) < target:
        # keyed fan-out: hash(doc_id) both parallelizes the decoration
        # regexes AND pre-aligns the reassembly groupBy, so the operator
        # adds no second exchange (0.98 -> 0.57 s measured)
        docs = docs.repartition(target, "doc_id")
    docs = docs.select(
        "doc_id", F.regexp_replace("text", _C4_CHUNK_RE, "$1\n").alias("pt")
    )
    t1 = F.regexp_replace("pt", _C4_PUNCT_RE, "$1.")
    decorated = docs.select(
        "doc_id",
        F.concat(
            t1,
            F.when(
                F.substring(F.md5(t1), 1, 1) == F.lit("0"), F.lit(" {")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return c4_quality_filter(
        decorated,
        "doc_id",
        "text",
        min_words=_C4_WORDS,
        line_blocklist=("slow",),
        # the decoration regexes sit above this query's own fan-out: an
        # early page filter would be pushed below that exchange and
        # re-derive them serially (measured 1.6x whole-query cost)
        early_page_filter=False,
    )

# ---------------------------------------------------------------------------
# V80 — exact-substring span dedup (ExactSubstr; Lee et al. 2021)
# ---------------------------------------------------------------------------
# k=5 tokens on the fixture (production default is the paper's 50): the
# corpus's near-dup replicas share long verbatim spans, so the gate
# exercises cross-doc span removal, within-doc repeats, overlapping
# covered regions, fully-deduplicated docs, and sub-k docs passing
# through whole (36 docs trimmed, 14 emptied at sf0.01).
_ESUB_K = 5


@register(
    "v80_exact_substrings",
    oracle=f"""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    wins AS (
        SELECT doc_id, unnest(range(0, greatest(len(arr) - {_ESUB_K} + 1, 0))) AS pos, arr
        FROM docs),
    keyed AS (
        SELECT doc_id, pos, md5(array_to_string(arr[pos+1 : pos+{_ESUB_K}], ' ')) AS wh
        FROM wins),
    flagged AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
        FROM keyed),
    covered AS (
        SELECT DISTINCT doc_id, pos + unnest(range(0, {_ESUB_K})) AS cpos
        FROM flagged WHERE rn > 1),
    toks AS (
        SELECT doc_id, unnest(arr) AS tok, unnest(range(0, len(arr))) AS pos
        FROM docs),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok FROM toks t
        LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.cpos
        WHERE c.doc_id IS NULL),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_dedup,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id)
    SELECT d.doc_id AS id,
           COALESCE(r.text_dedup, '') AS text_dedup,
           CAST(len(d.arr) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
    FROM docs d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def v80_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr over the documents table: every later corpus-wide copy
    of a duplicated 5-token window is removed at token granularity and
    documents are reassembled in order.  The full (id, text_dedup,
    n_tokens, n_kept) table is hash-checked, so a wrong first-occurrence
    tie-break, a mis-covered token, or a broken rebuild breaks the gate."""
    from flowbyte_spark.catalog import table_path
    from flowbyte_spark.operators.ordering import scan_partitions
    from flowbyte_spark.operators.substrings import exact_substring_dedup

    fan_out = scan_partitions(
        spark, table_path(sf_dir, "documents")
    ) < spark.sparkContext.defaultParallelism
    return exact_substring_dedup(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_ESUB_K,
        fan_out=fan_out,
    )

# ---------------------------------------------------------------------------
# V82 — Python Data Source connector, hash-gated end-to-end
# ---------------------------------------------------------------------------
# The reference library is a connector (chunked fetch, sql.py:88); its
# Spark-4 re-expression is sources/python_ds.py: executors fetch chunk
# partitions in parallel and range predicates prune whole chunks at
# planning time.  The backend is deterministic md5 arithmetic, so DuckDB
# re-generates the identical table and the gate hash-checks the whole
# connector stack: schema, option handling, partition planning, pushed
# and residual filters, and the per-partition iterators.  Row count
# scales with the fixture (20 per document); the filter keeps the middle
# half, exercising the pushdown path the tests pin partition-count-wise.


@register(
    "v82_python_datasource",
    oracle="""
    WITH n AS (SELECT 20 * COUNT(*) AS rows_ FROM documents),
    ids AS (SELECT unnest(range(0, (SELECT rows_ FROM n))) AS i),
    gen AS (
        SELECT i AS event_id,
               ('0x' || substring(md5('u|' || i), 1, 8))::BIGINT % 100 AS user_id,
               (['click','view','purchase','signup','error'])[
                   (('0x' || substring(md5('t|' || i), 1, 8))::BIGINT % 5) + 1
               ] AS event_type,
               (('0x' || substring(md5('v|' || i), 1, 8))::BIGINT % 1000000)
                   / 100.0 AS value
        FROM ids)
    SELECT * FROM gen
    WHERE event_id >= (SELECT rows_ FROM n) / 4
      AND event_id < 3 * (SELECT rows_ FROM n) / 4
      AND event_type <> 'error'
    """,
)
def v82_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the synthetic-events Python Data Source and keep the middle
    event_id half (pushed down into chunk planning) minus 'error' rows
    (residual filter Spark applies above the scan).  Full row hash gate."""
    from flowbyte_spark.sources import python_ds

    python_ds.register(spark)
    rows = 20 * load_table(spark, sf_dir, "documents").count()
    df = (
        spark.read.format("flowbyte_synth")
        .option("rows", rows)
        .option("chunk_size", 1000)
        .load()
    )
    return df.where(
        (F.col("event_id") >= rows // 4)
        & (F.col("event_id") < 3 * rows // 4)
        & (F.col("event_type") != "error")
    )


# ---------------------------------------------------------------------------
# V84 — REAL image decode under the hash gate (round 6)
# ---------------------------------------------------------------------------
# v31 verifies the multimodal PLUMBING with the sha256 stub; this query
# verifies an actual codec: each document's md5 digest becomes the 16
# pixels of a 4x4 greyscale PNG (encoded executor-side by the stdlib
# codec in functions/png.py), extract_features runs with
# fake_decode=False — the REAL decode path: signature parse, zlib
# inflate, scanline unfilter — and the decoded pixel statistics must
# equal what DuckDB computes straight from the same md5 hex.  A single
# bit wrong anywhere in encode or decode breaks sum/min/max.


@register(
    "v84_media_decode",
    oracle="""
    WITH px AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(text), 2 * i.n + 1, 2)) AS BIGINT)
                   AS v
        FROM documents, (SELECT unnest(range(16)) AS n) AS i
        WHERE doc_id < 200)
    SELECT doc_id AS media_id,
           CAST(4 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS BIGINT) AS px_min,
           CAST(MAX(v) AS BIGINT) AS px_max
    FROM px
    GROUP BY doc_id
    ORDER BY media_id
    """,
)
def v84_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4x4 greyscale PNGs from md5(text) bytes, decoded by the REAL PNG
    kernel (fake_decode=False); pixel stats hash-checked against the md5
    bytes DuckDB derives directly."""
    from flowbyte_spark.operators import multimodal as M
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def png_of_md5(text: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        from flowbyte_spark.functions.png import encode_png

        return text.map(
            lambda t: encode_png(
                np.frombuffer(
                    hashlib.md5(t.encode()).digest(), dtype=np.uint8
                ).reshape(4, 4)
            )
        )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        png_of_md5("text").alias("payload"),
    )
    feats = M.extract_features(media, batch_size=64, fake_decode=False)
    f = lambda i: F.element_at("features", i).cast("long")  # noqa: E731
    return feats.select(
        "media_id",
        f(1).alias("width"),
        f(2).alias("height"),
        f(3).alias("channels"),
        f(5).alias("px_sum"),
        f(6).alias("px_min"),
        f(7).alias("px_max"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# V87 — product-quantization ANN (Jégou et al. 2011; round 6)
# ---------------------------------------------------------------------------
_PQ_M = 8
_PQ_DS = 8  # 64-dim fixtures / 8 subspaces
_PQ_CODES = 16
_PQ_QUERY = 7


@register(
    "v87_pq_ann",
    oracle=f"""
    WITH cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code,
               embedding::DOUBLE[] AS cvec
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {_PQ_CODES})),
    v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
    js AS (SELECT unnest(range({_PQ_M})) AS j),
    sd AS (
        SELECT v.id, js.j, cb.code,
               CAST(FLOOR(list_sum(list_transform(range(1, {_PQ_DS + 1}),
                    i -> (vec[js.j*{_PQ_DS} + i] - cvec[js.j*{_PQ_DS} + i])^2))
                    * 10000 + 0.5) AS BIGINT) AS dq
        FROM v, js, cb),
    codes AS (
        SELECT id, j, code FROM (
            SELECT id, j, code,
                   ROW_NUMBER() OVER (PARTITION BY id, j ORDER BY dq, code) AS rn
            FROM sd) WHERE rn = 1),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = {_PQ_QUERY}),
    tab AS (
        SELECT js.j, cb.code,
               CAST(FLOOR(list_sum(list_transform(range(1, {_PQ_DS + 1}),
                    i -> (qv[js.j*{_PQ_DS} + i] - cvec[js.j*{_PQ_DS} + i])^2))
                    * 10000 + 0.5) AS BIGINT) AS tq
        FROM cb, js, q)
    SELECT c.id, SUM(t.tq) / 10000.0 AS adist
    FROM codes c JOIN tab t USING (j, code)
    WHERE c.id <> {_PQ_QUERY}
    GROUP BY c.id
    ORDER BY adist ASC, id
    LIMIT 5
    """,
)
def v87_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table: vectors
    compress to {m} one-byte codes against a deterministic lowest-id
    codebook, the query builds an m x codes asymmetric-distance lookup
    table, and approximate distances are exact integer sums of quantized
    table entries — the FAISS IndexPQ structure as pure Catalyst
    (slice/zip_with/aggregate, codebook + table broadcast).  The oracle
    recomputes codes AND the ADC ranking from the same arithmetic, so a
    wrong code assignment, a broken subspace slice, or a tie-flip all
    break the hash."""
    from flowbyte_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb,
        "vec_id",
        "embedding",
        _PQ_QUERY,
        k=5,
        m=_PQ_M,
        dim=_PQ_M * _PQ_DS,
        codes=_PQ_CODES,
    )


# ---------------------------------------------------------------------------
# V97 — baseline JPEG decode under the hash gate (round 8).  JPEG is
# lossy, so the oracle trick that lets DuckDB recompute decoded pixels
# needs a DC-exact corpus: an 8x8 CONSTANT image with an EVEN value v
# quantizes losslessly at quality 50 (DC = 8*(v-128), q0 = 16, so
# round(DC/q0)*q0/8 + 128 == v exactly and every AC term is zero) —
# the full marker/Huffman/DC-prediction/IDCT path runs for real while
# DuckDB derives the expected stats straight from the md5 bytes.
# ---------------------------------------------------------------------------


@register(
    "v97_jpeg_decode",
    oracle="""
    WITH px AS (
        SELECT doc_id,
               2 * (CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 128)
                   AS v
        FROM documents WHERE doc_id < 200)
    SELECT doc_id AS media_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(64 * v AS BIGINT) AS px_sum,
           CAST(v AS BIGINT) AS px_min,
           CAST(v AS BIGINT) AS px_max
    FROM px
    ORDER BY media_id
    """,
)
def v97_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8x8 constant grayscale JPEGs (value = 2*(first md5 byte % 128),
    even => DC-exact at quality 50), decoded by the REAL baseline JPEG
    kernel (functions/jpeg.py, fake_decode=False); pixel stats
    hash-checked against the md5 bytes DuckDB derives directly."""
    from flowbyte_spark.operators import multimodal as M
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def jpeg_of_md5(text: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        from flowbyte_spark.functions.jpeg import encode_jpeg

        def make(t: str) -> bytes:
            v = 2 * (hashlib.md5(t.encode()).digest()[0] % 128)
            return encode_jpeg(
                np.full((8, 8), v, dtype=np.uint8), quality=50
            )

        return text.map(make)

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        jpeg_of_md5("text").alias("payload"),
    )
    feats = M.extract_features(media, batch_size=64, fake_decode=False)
    f = lambda i: F.element_at("features", i).cast("long")  # noqa: E731
    return feats.select(
        "media_id",
        f(1).alias("width"),
        f(2).alias("height"),
        f(3).alias("channels"),
        f(5).alias("px_sum"),
        f(6).alias("px_min"),
        f(7).alias("px_max"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# V98 — PCM WAV decode under the hash gate (round 8).  PCM is lossless,
# so no DC-exactness trick is needed: 8 little-endian int16 samples per
# doc come from the md5 bytes, ride through encode_wav -> the REAL RIFF
# decode kernel, and DuckDB recomputes the exact sample stats from the
# same hex digits.
# ---------------------------------------------------------------------------


@register(
    "v98_wav_decode",
    oracle="""
    WITH smp AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(text), 2 * i.n + 1, 2)) AS BIGINT)
               + 256 * CAST(('0x' || substr(md5(text), 2 * i.n + 3, 2))
                            AS BIGINT) AS u
        FROM documents, (SELECT unnest(range(0, 16, 2)) AS n) AS i
        WHERE doc_id < 200),
    sx AS (SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
           FROM smp)
    SELECT doc_id AS media_id,
           CAST(1 AS BIGINT) AS channels,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(8 AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS s_sum,
           CAST(MIN(v) AS BIGINT) AS s_min,
           CAST(MAX(v) AS BIGINT) AS s_max
    FROM sx
    GROUP BY doc_id
    ORDER BY media_id
    """,
)
def v98_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-sample mono PCM WAVs built from md5(text) bytes (little-endian
    int16), decoded by the REAL RIFF kernel (functions/wav.py,
    fake_decode=False); sample stats hash-checked against the md5 hex
    DuckDB reads directly — PCM is lossless, so the match is exact."""
    from flowbyte_spark.operators import multimodal as M
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def wav_of_md5(text: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        from flowbyte_spark.functions.wav import encode_wav

        return text.map(
            lambda t: encode_wav(
                np.frombuffer(
                    hashlib.md5(t.encode()).digest(), dtype="<i2"
                ).astype(np.int16),
                16000,
            )
        )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        wav_of_md5("text").alias("payload"),
    )
    feats = M.extract_features(media, batch_size=64, fake_decode=False)
    f = lambda i: F.element_at("features", i).cast("long")  # noqa: E731
    return feats.select(
        "media_id",
        f(1).alias("channels"),
        f(2).alias("sample_rate"),
        f(3).alias("n_samples"),
        f(5).alias("s_sum"),
        f(6).alias("s_min"),
        f(7).alias("s_max"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# V99 — y4m video decode under the hash gate (round 8).  YUV4MPEG2 is
# uncompressed, so like WAV the match is exact: two 4x2 mono frames per
# doc from the md5 bytes ride through encode_y4m -> the REAL parser,
# and DuckDB recomputes the luma stats from the same hex digits.
# ---------------------------------------------------------------------------


@register(
    "v99_y4m_decode",
    oracle="""
    WITH px AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(text), 2 * i.n + 1, 2)) AS BIGINT)
                   AS v
        FROM documents, (SELECT unnest(range(16)) AS n) AS i
        WHERE doc_id < 200)
    SELECT doc_id AS media_id,
           CAST(4 AS BIGINT) AS width,
           CAST(2 AS BIGINT) AS height,
           CAST(2 AS BIGINT) AS n_frames,
           CAST(250 AS BIGINT) AS duration_ms,
           CAST(SUM(v) AS BIGINT) AS y_sum,
           CAST(MIN(v) AS BIGINT) AS y_min,
           CAST(MAX(v) AS BIGINT) AS y_max
    FROM px
    GROUP BY doc_id
    ORDER BY media_id
    """,
)
def v99_y4m_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two 4x2 mono y4m frames per doc from md5(text) bytes at F8:1
    (duration 2/8 s = 250 ms), decoded by the REAL YUV4MPEG2 parser
    (functions/y4m.py, fake_decode=False); luma stats hash-checked
    against the md5 hex DuckDB reads directly — uncompressed, so the
    match is exact."""
    from flowbyte_spark.operators import multimodal as M
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def y4m_of_md5(text: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        from flowbyte_spark.functions.y4m import encode_y4m

        return text.map(
            lambda t: encode_y4m(
                np.frombuffer(
                    hashlib.md5(t.encode()).digest(), dtype=np.uint8
                ).reshape(2, 2, 4),
                fps=(8, 1),
            )
        )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        y4m_of_md5("text").alias("payload"),
    )
    feats = M.extract_features(media, batch_size=64, fake_decode=False)
    f = lambda i: F.element_at("features", i).cast("long")  # noqa: E731
    return feats.select(
        "media_id",
        f(1).alias("width"),
        f(2).alias("height"),
        f(3).alias("n_frames"),
        f(4).alias("duration_ms"),
        f(5).alias("y_sum"),
        f(6).alias("y_min"),
        f(7).alias("y_max"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# V89 — forward-direction ASOF join (round 8).  v33/v96 drive the
# backward carry; the forward path (earliest right row at-or-AFTER,
# desc-ordered union-sort with the mirrored tie rule) had property
# coverage only.  DuckDB's native ASOF with `p.ts >= c.ts` is the
# oracle.
# ---------------------------------------------------------------------------


@register(
    "v89_asof_forward",
    oracle="""
    SELECT c.event_id, c.user_id, p.event_id AS next_purchase_id,
           ROUND(p.value, 2) AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    ORDER BY c.event_id
    """,
)
def v89_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click picks up the user's EARLIEST at-or-after purchase via
    asof_join(direction='forward') — the descending union-sort carry —
    hash-checked against DuckDB's native forward ASOF."""
    from flowbyte_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["p_event_id", "p_value"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("p_event_id_matched").alias("next_purchase_id"),
        F.round(F.col("p_value_matched"), 2).alias("next_purchase_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# V100 — SRP (signed-random-projection) LSH near-dup over embeddings
# (round 8).  Integer-exact by construction: quantized vectors dotted
# with md5-derived integer hyperplanes, so DuckDB recomputes the exact
# signatures, the exact banded candidate set and the exact hamming
# distances in SQL.  4-bit bands because the fixture's nearest pairs
# sit at cos ~0.45 (operators/srp.py documents the regime math).
# ---------------------------------------------------------------------------


# Shared SRP recomputation: exact signatures -> banded candidates ->
# hamming-filtered pairs.  Used by v100 (pair table) and v104 (pairs ->
# connected components -> anti-join survivors).
_SRP_PAIRS_CTES = """planes AS (
        SELECT i.i, j.j,
               (CAST(('0x' || substr(md5('srp_' || i.i || '_' || j.j), 1, 4))
                     AS BIGINT) % 1001) - 500 AS p
        FROM range(64) i(i), range(64) j(j)),
    qv AS (
        SELECT vec_id, j.j,
               CAST(round(CAST(embedding[j.j + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS v
        FROM embeddings, range(64) j(j)
        WHERE vec_id < 1000),
    dots AS (SELECT vec_id, i, SUM(v * p) AS dot
             FROM qv JOIN planes ON qv.j = planes.j GROUP BY 1, 2),
    bits AS (SELECT vec_id, i, CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS b
             FROM dots),
    sigs AS (SELECT vec_id, i // 4 AS band,
                    string_agg(CAST(b AS VARCHAR), '' ORDER BY i) AS key
             FROM bits GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM sigs a JOIN sigs b
               ON a.band = b.band AND a.key = b.key
              AND a.vec_id < b.vec_id),
    fullsig AS (SELECT vec_id,
                       string_agg(CAST(b AS VARCHAR), '' ORDER BY i) AS s
                FROM bits GROUP BY 1),
    pairs AS (
        SELECT id_a, id_b, hamming FROM (
            SELECT id_a, id_b,
                   CAST((SELECT count(*) FROM range(64) k(k)
                         WHERE substr(fa.s, k.k + 1, 1)
                            <> substr(fb.s, k.k + 1, 1)) AS BIGINT) AS hamming
            FROM cand
            JOIN fullsig fa ON fa.vec_id = id_a
            JOIN fullsig fb ON fb.vec_id = id_b) h
        WHERE hamming <= 22)"""


@register(
    "v100_srp_neardup",
    oracle=f"""
    WITH {_SRP_PAIRS_CTES}
    SELECT id_a, id_b, hamming
    FROM pairs
    ORDER BY id_a, id_b
    """,
)
def v100_srp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SRP near-dup candidates with exact integer hamming filter
    (operators/srp.py): quantized embedding x md5-derived integer
    hyperplanes -> 64 sign bits -> 4-bit band buckets -> candidate
    equi-join -> hamming <= 22.  Signature, candidate set and distances
    are all integer-exact, so the full pair table hash-matches DuckDB's
    SQL recomputation."""
    from flowbyte_spark.operators.srp import srp_neardup_pairs

    # the gate runs the fixture-calibrated 4-bit bands (cos ~0.45
    # regime), where candidates grow ~n^2 x 0.4 — fine for a
    # correctness gate, wrong for a benchmark corpus; cap the slice so
    # the bench cost stays bounded at larger sf.  Production near-dup
    # at cos >= 0.8 uses 12-16-bit bands, where candidates stay sparse.
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 1000
    )
    return srp_neardup_pairs(
        emb,
        "vec_id",
        "embedding",
        n_planes=64,
        band_bits=4,
        max_hamming=22,
        quant=1000,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# V104 — embedding-side cluster dedup (round 9, r8 VERDICT #5): the SRP
# candidate pairs feed the SAME min-label connected-components operator
# the MinHash text pairs use (v64/v67), closing the 100 TB embedding-dedup
# path: SRP pairs -> CC (min-label survivor) -> anti-join losers out of
# the corpus -> bucketed survivor rollup.  Everything is integer-exact
# (SRP pairs by construction, CC labels are min-ids, the rollup sums
# ids), so DuckDB recomputes the full pipeline: the same pair CTEs, a
# recursive reachability CC, and the same anti-join + rollup.
# ---------------------------------------------------------------------------


@register(
    "v104_srp_cluster_dedup",
    oracle=f"""
    WITH RECURSIVE {_SRP_PAIRS_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT e.dst AS id, re.r FROM reach re JOIN edges e ON e.src = re.id),
    comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
    losers AS (SELECT id FROM comp WHERE id <> comp),
    survivors AS (
        SELECT vec_id FROM embeddings
        WHERE vec_id < 1000
          AND vec_id NOT IN (SELECT id FROM losers))
    SELECT CAST(vec_id % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum
    FROM survivors
    GROUP BY 1
    ORDER BY 1
    """,
)
def v104_srp_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP LSH pairs -> connected components -> survivor corpus.

    The embedding dual of v67's text pipeline: transitive near-dups
    (A~B, B~C) keep exactly ONE representative (the min vec_id of each
    component), enforced by an anti-join of the non-canonical cluster
    members against the corpus.  Vectors in no pair never enter the CC
    input and pass through untouched.  One banded shuffle for pairs,
    one round of small label joins per hop of graph diameter for CC,
    one anti-join, one partial-aggregatable rollup — no all-pairs stage
    anywhere."""
    from flowbyte_spark.operators.components import neardup_clusters
    from flowbyte_spark.operators.srp import srp_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    pairs = srp_neardup_pairs(
        emb, "vec_id", "embedding",
        n_planes=64, band_bits=4, max_hamming=22, quant=1000,
    )
    losers = (
        neardup_clusters(pairs)
        .where(F.col("is_canonical") == 0)
        .select(F.col("id").alias("vec_id"))
    )
    survivors = emb.join(losers, "vec_id", "left_anti")
    return (
        survivors.groupBy((F.col("vec_id") % 10).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# V101 — canonical-URL dedup (round 8).  The fixture has no URL column,
# so both engines derive the SAME messy URL per doc from doc_id + md5
# bits (scheme/WWW./default-port/trailing-slash/param-order/utm/fragment
# noise over a small key space so real duplicates exist), then the
# oracle recomputes the operator's documented canonical form in SQL —
# the full (canonical_url, keeper_id, n_fetches) table is hash-checked.
# ---------------------------------------------------------------------------


@register(
    "v101_url_dedup",
    oracle="""
    WITH b AS (
        SELECT doc_id, md5(text) AS h FROM documents),
    raw AS (
        SELECT doc_id,
               (CASE CAST(('0x' || substr(h, 1, 2)) AS BIGINT) % 4
                    WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
                    WHEN 2 THEN 'https' ELSE 'HTTPS' END)
               || '://'
               || (CASE WHEN CAST(('0x' || substr(h, 3, 2)) AS BIGINT) % 2 = 1
                        THEN 'WWW.' ELSE '' END)
               || 'Site' || CAST(doc_id % 13 AS VARCHAR) || '.Example.COM'
               || (CASE WHEN CAST(('0x' || substr(h, 5, 2)) AS BIGINT) % 2 = 1
                        THEN (CASE WHEN CAST(('0x' || substr(h, 1, 2)) AS BIGINT) % 4 < 2
                                   THEN ':80' ELSE ':443' END)
                        ELSE '' END)
               || '/p/' || CAST(doc_id % 7 AS VARCHAR)
               || (CASE WHEN CAST(('0x' || substr(h, 7, 2)) AS BIGINT) % 2 = 1
                        THEN '/' ELSE '' END)
               || '?'
               || (CASE WHEN CAST(('0x' || substr(h, 9, 2)) AS BIGINT) % 2 = 1
                        THEN 'id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_source=feed&ref=abc'
                        ELSE 'ref=abc&id=' || CAST(doc_id % 5 AS VARCHAR) END)
               || (CASE WHEN CAST(('0x' || substr(h, 11, 2)) AS BIGINT) % 2 = 1
                        THEN '#frag' ELSE '' END) AS url
        FROM b),
    parsed AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 1)) AS scheme,
               lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 2)) AS hostport,
               regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 3) AS path0,
               regexp_replace(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 4), '^\\?', '') AS qs
        FROM raw),
    canon AS (
        SELECT doc_id,
               scheme || '://'
               || (CASE WHEN scheme = 'http'
                        THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$', '')
                        WHEN scheme = 'https'
                        THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$', '')
                        ELSE regexp_replace(hostport, '^www\\.', '') END)
               || (CASE WHEN regexp_replace(path0, '/+$', '') = ''
                        THEN '/' ELSE regexp_replace(path0, '/+$', '') END)
               || (CASE WHEN array_to_string(list_sort(list_filter(string_split(qs, '&'),
                             p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid=|gclid=)'))), '&') <> ''
                        THEN '?' || array_to_string(list_sort(list_filter(string_split(qs, '&'),
                             p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid=|gclid=)'))), '&')
                        ELSE '' END) AS canonical_url
        FROM parsed)
    SELECT canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_fetches
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
)
def v101_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL keep-first dedup (operators/urls.py) over synthetic
    messy URLs: scheme/host case, www., default ports, trailing slashes,
    param order, utm noise and fragments all canonicalize away, so docs
    sharing (scheme class, doc_id mod 13/7/5) collapse to one canonical
    row.  The full result table is hash-checked against DuckDB's SQL
    recomputation of the same canonical form."""
    from flowbyte_spark.operators.urls import dedup_by_canonical_url

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))

    def hb(k: int) -> F.Column:  # k-th md5 byte as int (1-indexed hex)
        return F.conv(F.substring(h, 2 * k - 1, 2), 16, 10).cast("long")

    scheme = (
        F.when(hb(1) % 4 == 0, F.lit("http"))
        .when(hb(1) % 4 == 1, F.lit("HTTP"))
        .when(hb(1) % 4 == 2, F.lit("https"))
        .otherwise(F.lit("HTTPS"))
    )
    port = F.when(
        hb(3) % 2 == 1,
        F.when(hb(1) % 4 < 2, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    qs = F.when(
        hb(5) % 2 == 1,
        F.concat(
            F.lit("id="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&utm_source=feed&ref=abc"),
        ),
    ).otherwise(
        F.concat(
            F.lit("ref=abc&id="), (F.col("doc_id") % 5).cast("string")
        )
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        F.when(hb(2) % 2 == 1, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(".Example.COM"),
        port,
        F.lit("/p/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(hb(4) % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        qs,
        F.when(hb(6) % 2 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )
    fetches = docs.select("doc_id", url.alias("url"))
    return dedup_by_canonical_url(fetches, "doc_id", "url").orderBy(
        "canonical_url"
    )
