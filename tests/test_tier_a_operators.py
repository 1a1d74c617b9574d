"""Unit tests for Tier-A operators: merge semantics (incl. the reference's
quirks), mutation protocol, cast directives."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flowbyte_spark.operators.casts import apply_casts, normalize_decimals
from flowbyte_spark.operators.merge import update_by_keys
from flowbyte_spark.operators.mutate import ParquetTable

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("bal", DoubleType()),
    ]
)


@pytest.fixture
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], SCHEMA
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_update_by_keys_list_of_dicts(spark, target):
    merged = update_by_keys(target, [{"id": 2, "bal": 99.0}], ["id"])
    assert rows(merged) == [(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0)]


def test_update_by_keys_last_record_wins(spark, target):
    # the reference applies records in order, each overwriting the previous
    merged = update_by_keys(
        target, [{"id": 2, "bal": 50.0}, {"id": 2, "bal": 75.0}], ["id"]
    )
    assert rows(merged) == [(1, "a", 10.0), (2, "b", 75.0), (3, "c", 30.0)]


def test_update_by_keys_unmatched_update_ignored(spark, target):
    # an UPDATE never inserts
    merged = update_by_keys(target, [{"id": 42, "bal": 1.0}], ["id"])
    assert rows(merged) == rows(target)


def test_update_by_keys_idempotent(spark, target):
    delta = [{"id": 1, "name": "z"}]
    once = update_by_keys(target, delta, ["id"])
    twice = update_by_keys(once, delta, ["id"])
    assert rows(once) == rows(twice)


def test_update_by_keys_missing_key_skipped_with_warning(spark, target):
    # mirror of sql.py:236-239: a key column absent from the records is
    # dropped from the merge predicate (with a warning); the rest still joins
    merged = update_by_keys(target, [{"id": 1, "bal": 0.0}], ["id", "nope_key"])
    assert rows(merged) == [(1, "a", 0.0), (2, "b", 20.0), (3, "c", 30.0)]


def test_update_by_keys_no_usable_keys_raises(spark, target):
    with pytest.raises(ValueError):
        update_by_keys(target, [{"bal": 0.0}], ["nope"])


def test_update_by_keys_rejects_non_dicts(spark, target):
    with pytest.raises(TypeError):
        update_by_keys(target, [("id", 1)], ["id"])


def test_update_by_keys_dataframe_updates_all(spark, target):
    # a DataFrame source sets every non-key column it carries (the
    # reference's columns[1:] quirk lives in compat.MSSQL.update_from_table)
    source = spark.createDataFrame(
        [("ZZZ", 1, 111.0)],
        StructType(
            [
                StructField("name", StringType()),
                StructField("id", LongType()),
                StructField("bal", DoubleType()),
            ]
        ),
    )
    merged = update_by_keys(target, source, ["id"])
    assert rows(merged) == [(1, "ZZZ", 111.0), (2, "b", 20.0), (3, "c", 30.0)]


# ---------------------------------------------------------------------------
# ParquetTable mutation protocol
# ---------------------------------------------------------------------------


def test_parquet_table_cycle(spark, target, tmp_path):
    path = str(tmp_path / "t")
    table = ParquetTable(spark, path)
    table.overwrite(target)
    assert table.read().count() == 3

    extra = spark.createDataFrame([(4, "d", 40.0)], SCHEMA)
    table.append(extra)
    assert table.read().count() == 4

    deleted = table.delete_where("bal >= 30.0")
    assert deleted == 2
    assert rows(table.read()) == [(1, "a", 10.0), (2, "b", 20.0)]

    table.update_by_keys([{"id": 1, "name": "A"}], ["id"])
    assert rows(table.read()) == [(1, "A", 10.0), (2, "b", 20.0)]

    table.truncate()
    assert table.read().count() == 0
    assert [f.name for f in table.read().schema.fields] == ["id", "name", "bal"]


def test_delete_where_rejects_garbage(spark, target, tmp_path):
    path = str(tmp_path / "t2")
    table = ParquetTable(spark, path)
    table.overwrite(target)
    with pytest.raises(Exception):
        # not a boolean expression — fails closed (the reference would
        # happily interpolate this into SQL, sql.py:331)
        table.delete_where("DROP TABLE students")
    assert table.read().count() == 3  # unchanged


# ---------------------------------------------------------------------------
# Parquet schema cache: engine writers keep it equal to Spark's inference
# ---------------------------------------------------------------------------


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _bal_as_string(spark):
    # note is a literal, so non-nullable in the frame but not in the files
    return spark.createDataFrame(
        [(7, "g", "70.0")], "id LONG, name STRING, bal STRING"
    ).withColumn("note", F.lit("seven"))


def _append_same(spark, table):
    table.append(spark.createDataFrame([(4, "d", 40.0)], SCHEMA))


def _append_other(spark, table):
    table.append(
        spark.createDataFrame(
            [(5, "e", 50.0, "x")], "id LONG, name STRING, bal DOUBLE, note STRING"
        )
    )


def _outside_overwrite(spark, table):
    _bal_as_string(spark).write.mode("overwrite").parquet(table.path)


def _outside_file_added(spark, table):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": [9], "name": ["i"], "bal": [90.0]}),
        f"{table.path}/outside.parquet",
    )


CACHE_OPS = {
    "append_same_schema": _append_same,
    "append_other_schema": _append_other,
    "overwrite_new_schema": lambda spark, t: t.overwrite(_bal_as_string(spark)),
    "delete_where": lambda spark, t: t.delete_where("bal >= 20.0"),
    "truncate": lambda spark, t: t.truncate(),
    "update_by_keys": lambda spark, t: t.update_by_keys(
        [{"id": 2, "name": None}, {"id": 3, "bal": 3.5}], ["id"]
    ),
    "update_by_keys_dataframe": lambda spark, t: t.update_by_keys(
        spark.createDataFrame([("one", 1, 1.5)], "name STRING, id LONG, bal DOUBLE"),
        ["id"],
    ),
    # outside code rewriting the table, or adding a file to it
    "outside_overwrite": _outside_overwrite,
    "outside_file_added": _outside_file_added,
}


@pytest.mark.parametrize("op", sorted(CACHE_OPS))
def test_cached_read_matches_inference(spark, target, tmp_path, op):
    from flowbyte_spark import catalog

    table = ParquetTable(spark, str(tmp_path / "t"))
    table.overwrite(target)
    assert catalog.cached_schema(table.path) is not None  # seeded by the write
    CACHE_OPS[op](spark, table)
    if op.startswith("outside") or op == "append_other_schema":
        assert catalog.cached_schema(table.path) is None  # must re-infer
    else:
        assert catalog.cached_schema(table.path) is not None
    got = table.read()
    fresh = spark.read.parquet(table.path)
    assert got.schema == fresh.schema
    assert _sorted_rows(got) == _sorted_rows(fresh)


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted in a job group of its own (the
    pattern of compat's get_data progress poller)."""
    import uuid

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"job-count-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_after_engine_write_launches_no_job(spark, tmp_path):
    table = ParquetTable(spark, str(tmp_path / "t"))
    # non-nullable columns in the frame, nullable ones in the files: the
    # nullable append below must still match the recorded schema
    table.overwrite(spark.range(3).withColumn("name", F.lit("x")))
    assert _jobs_launched(spark, table.read) == 0
    table.append(spark.createDataFrame([(9, "y")], "id LONG, name STRING"))
    assert _jobs_launched(spark, table.read) == 0


def test_insert_into_existing_table_launches_only_its_write(spark, target, tmp_path):
    import pandas as pd

    from flowbyte_spark.compat import MSSQL

    ParquetTable(spark, str(tmp_path / "wh" / "db" / "dbo.t")).overwrite(target)
    db = MSSQL("spark", str(tmp_path / "wh"), "db", "u", "p", None)
    db.connect()
    rows_in = pd.DataFrame({"id": [4], "name": ["d"], "bal": [40.0]})
    assert _jobs_launched(spark, lambda: db.insert_data("dbo", "t", rows_in)) == 1
    assert db.get_data("SELECT count(*) AS n FROM t")["n"][0] == 4


def test_update_from_table_launches_three_jobs(spark, target, tmp_path):
    # one keyed merge through ParquetTable.update_by_keys is three jobs; a
    # route that re-reads or re-plans the target would launch more
    import pandas as pd

    from flowbyte_spark.compat import MSSQL

    db_dir = tmp_path / "wh" / "db"
    ParquetTable(spark, str(db_dir / "dbo.t")).overwrite(target)
    ParquetTable(spark, str(db_dir / "dbo.s")).overwrite(
        spark.createDataFrame([(2, "B", 22.0)], SCHEMA)
    )
    db = MSSQL("spark", str(tmp_path / "wh"), "db", "u", "p", None)
    db.connect()
    df = pd.DataFrame(columns=["name", "bal"])  # SETs columns[1:]: bal only
    n = _jobs_launched(spark, lambda: db.update_from_table(df, "t", "s", ["id"]))
    assert n == 3
    got = db.get_data("SELECT id, name, bal FROM t ORDER BY id")
    assert got.values.tolist() == [[1, "a", 10.0], [2, "b", 22.0], [3, "c", 30.0]]


def test_update_that_sets_nothing_keeps_the_table(spark, target, tmp_path):
    # keys-only updates set no column: no job, no rewrite of the directory
    import os

    table = ParquetTable(spark, str(tmp_path / "t"))
    table.overwrite(target)
    inode = os.stat(table.path).st_ino
    keys_only = spark.createDataFrame([(2,)], "id LONG")
    for updates in ([{"id": 1}], keys_only):
        n = _jobs_launched(spark, lambda: table.update_by_keys(updates, ["id"]))
        assert n == 0
        assert os.stat(table.path).st_ino == inode
    assert rows(table.read()) == rows(target)


# ---------------------------------------------------------------------------
# Cast directives
# ---------------------------------------------------------------------------


def test_apply_casts(spark):
    df = spark.createDataFrame([(1, 1, "2.5")], "a INT, b INT, c STRING")
    out = apply_casts(
        df, category_columns=["a"], bool_columns=["b"], float_columns=["c"]
    )
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {"a": "string", "b": "boolean", "c": "double"}
    assert out.collect()[0] == ("1", True, 2.5)


def test_round_columns_is_noop(spark):
    df = spark.createDataFrame([(1.234,)], "x DOUBLE")
    out = apply_casts(df, round_columns=["x"])
    assert out.collect()[0][0] == 1.234  # dead parameter, parity with sql.py:88


def test_normalize_decimals(spark):
    df = spark.createDataFrame([(1,)], "k INT").select(
        F.col("k").cast(DecimalType(10, 2)).alias("d"), F.col("k")
    )
    out = normalize_decimals(df)
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["d"] == DecimalType(38, 20)
    assert types["k"].simpleString() == "int"  # non-decimals untouched
