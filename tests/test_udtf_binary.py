"""Tests: Python UDTF chunker and binaryFile ingestion."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_chunk_words_udtf_sql(spark):
    from flowbyte_spark.functions.udtf import ChunkWords

    spark.udtf.register("chunk_words", ChunkWords)
    rows = spark.sql(
        "SELECT * FROM chunk_words('a b c d e f g h', 4, 2)"
    ).collect()
    chunks = [(r.chunk_idx, r.chunk, r.n_words) for r in rows]
    assert chunks == [
        (0, "a b c d", 4),
        (1, "c d e f", 4),
        (2, "e f g h", 4),
    ]


def test_chunk_words_udtf_lateral_join(spark):
    from flowbyte_spark.functions.udtf import ChunkWords

    spark.udtf.register("chunk_words", ChunkWords)
    spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5")], "doc_id LONG, text STRING"
    ).createOrReplaceTempView("docs_tiny")
    rows = spark.sql(
        """
        SELECT doc_id, chunk_idx, n_words
        FROM docs_tiny, LATERAL chunk_words(text, 3, 3)
        ORDER BY chunk_idx
        """
    ).collect()
    assert [(r.doc_id, r.chunk_idx, r.n_words) for r in rows] == [
        (1, 0, 3),
        (1, 1, 2),  # trailing partial window
    ]


def test_short_text_yields_single_chunk(spark):
    from flowbyte_spark.functions.udtf import ChunkWords

    spark.udtf.register("chunk_words2", ChunkWords)
    rows = spark.sql("SELECT * FROM chunk_words2('only two', 64, 32)").collect()
    assert len(rows) == 1 and rows[0].n_words == 2


def test_binary_file_ingestion(spark, tmp_path):
    from flowbyte_spark.operators.multimodal import extract_features

    payloads = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(5)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "ignore.txt").write_text("not matched by glob")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 5
    by_name = {r.path.rsplit("/", 1)[-1]: r for r in rows}
    for name, data in payloads.items():
        assert bytes(by_name[name].content) == data
        assert by_name[name].length == len(data)

    media = df.select(
        F.monotonically_increasing_id().alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content").alias("payload"),
    )
    feats = extract_features(media, fake_decode=True).collect()
    assert len(feats) == 5 and all(len(r.features) == 16 for r in feats)