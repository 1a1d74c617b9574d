"""Transactional-catalog seam (operators/table.py).

No Delta/Iceberg jars ship in this sandbox, so since round 6 the seam
runs END-TO-END against the bundled ``memcat`` v2 catalog
(java/memcat/src/flowbyte/memcat/MemoryCatalog.java — a from-scratch
single-JVM implementation of the same public connector interfaces
Delta/Iceberg implement: SupportsRowLevelOperations group-based
copy-on-write MERGE/UPDATE/DELETE, SupportsDelete filter pushdown,
atomic BatchWrite commit).  Coverage:

1. interface conformance — both backends implement the same Table ABC;
2. SQL compilation — the MERGE/DELETE strings CatalogTable would execute
   are asserted exactly (they are pure functions of the delta shape);
3. end-to-end — CatalogTable's full MERGE/DELETE cycle executes through
   Spark's analyzer, RewriteMergeIntoTable/RewriteDeleteFromTable, and a
   real DSv2 commit against memcat; the (still skip-marked) Delta
   variant runs unchanged wherever Delta jars exist.

The parquet backend's behavior itself is pinned by the existing oracle
tests (v17/v18) and tests/test_tier_a_operators.py — the seam must not
change it, which test 1 plus those suites verifies.
"""

from __future__ import annotations

import pytest

from flowbyte_spark.operators import table as tbl
from flowbyte_spark.operators.mutate import ParquetTable
from flowbyte_spark.operators.table import (
    CatalogTable,
    Table,
    compile_delete,
    compile_merge_update,
    quote_table,
)


def test_parquet_table_implements_seam():
    assert issubclass(ParquetTable, Table)
    assert issubclass(CatalogTable, Table)
    # No abstract method left unimplemented — instantiation would raise.
    assert not getattr(ParquetTable, "__abstractmethods__", None)
    assert not getattr(CatalogTable, "__abstractmethods__", None)


def test_quote_table_multipart():
    assert quote_table("cat.db.t") == "`cat`.`db`.`t`"
    assert quote_table("we`ird") == "`we``ird`"


def test_compile_delete():
    assert compile_delete("db.t", None) == "DELETE FROM `db`.`t`"
    assert (
        compile_delete("db.t", "x > 3 AND y IS NULL")
        == "DELETE FROM `db`.`t` WHERE x > 3 AND y IS NULL"
    )


def test_compile_merge_with_presence_flags():
    sql = compile_merge_update("db.t", "v", ["k1", "k2"], ["a", "b"])
    assert sql == (
        "MERGE INTO `db`.`t` AS t USING `v` AS s "
        "ON t.`k1` = s.`k1` AND t.`k2` = s.`k2` "
        "WHEN MATCHED THEN UPDATE SET "
        "t.`a` = CASE WHEN s.`__has_a__` THEN s.`a` ELSE t.`a` END, "
        "t.`b` = CASE WHEN s.`__has_b__` THEN s.`b` ELSE t.`b` END"
    )


def test_validate_predicate_fails_closed(spark):
    tbl.validate_predicate(spark, "o_totalprice > 100")
    for bad in (
        "1; DROP TABLE orders",
        "x > 1) OR (1=1",
        "DELETE FROM orders",
    ):
        with pytest.raises(Exception):
            tbl.validate_predicate(spark, bad)


def test_catalog_delete_where_rejects_before_any_sql(spark):
    # The parse gate fires before the table is ever touched, so even a
    # nonexistent identifier proves injection strings never reach SQL.
    t = CatalogTable(spark, "nonexistent.table")
    with pytest.raises(Exception):
        t.delete_where("1; DROP TABLE x")


def _has_delta() -> bool:
    try:  # pragma: no cover - sandbox has no delta jars
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_delta(), reason="no Delta jars in sandbox")
def test_catalog_table_end_to_end(tmp_path):  # pragma: no cover
    """Full MERGE/DELETE cycle against a real Delta catalog.

    Mirrors tests/test_tier_a_operators.py's ParquetTable scenario so the
    two backends are checked for identical net state where both run.
    """
    from delta import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[4]")
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        .config("spark.sql.warehouse.dir", str(tmp_path))
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    df.writeTo("seam_t").using("delta").create()
    t = CatalogTable(spark, "seam_t")
    t.update_by_keys([{"k": 1, "v": 99.0}, {"k": 2, "s": None}], ["k"])
    rows = {r["k"]: r for r in t.read().collect()}
    assert rows[1]["v"] == 99.0 and rows[1]["s"] == "a"
    assert rows[2]["s"] is None and rows[2]["v"] == 20.0
    assert t.delete_where("k = 3") == 1
    assert t.read().count() == 2
    t.truncate()
    assert t.read().count() == 0


# ---------------------------------------------------------------------------
# end-to-end against the bundled memcat v2 catalog (round 6: no more skip)
# ---------------------------------------------------------------------------
import uuid as _uuid


def _mem_table(spark, rows, schema):
    ident = f"memcat.db.t_{_uuid.uuid4().hex[:10]}"
    spark.createDataFrame(rows, schema).writeTo(ident).create()
    return CatalogTable(spark, ident)


def test_catalog_table_merge_end_to_end(spark):
    """update_by_keys -> real MERGE INTO with presence-flag CASE columns:
    missing columns keep target values, explicit None writes NULL —
    the identical scenario ParquetTable passes in test_tier_a_operators."""
    t = _mem_table(
        spark,
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k INT, s STRING, v DOUBLE",
    )
    t.update_by_keys([{"k": 1, "v": 99.0}, {"k": 2, "s": None}], ["k"])
    rows = {r["k"]: r for r in t.read().collect()}
    assert rows[1]["v"] == 99.0 and rows[1]["s"] == "a"  # s untouched
    assert rows[2]["s"] is None and rows[2]["v"] == 20.0  # explicit NULL
    assert rows[3]["s"] == "c" and rows[3]["v"] == 30.0  # unmatched row kept


def test_catalog_table_merge_inserts_missing_keys(spark):
    t = _mem_table(spark, [(1, "a", 1.0)], "k INT, s STRING, v DOUBLE")
    # a DataFrame source: every presence flag is true, so each SET takes
    # the source value; seq is not a target column and is ignored
    src = t.read().sparkSession.createDataFrame(
        [(9, 1, "z", 5.0)], "seq INT, k INT, s STRING, v DOUBLE"
    )
    t.update_by_keys(src, ["k"])
    rows = {r["k"]: r for r in t.read().collect()}
    assert rows[1]["s"] == "z" and rows[1]["v"] == 5.0


def test_catalog_table_delete_and_truncate_end_to_end(spark):
    t = _mem_table(
        spark,
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k INT, s STRING, v DOUBLE",
    )
    # simple predicate -> SupportsDelete pushdown path
    assert t.delete_where("k = 3") == 1
    assert t.read().count() == 2
    # non-translatable predicate -> group-based rewrite path
    assert t.delete_where("v + 1.0 > 20.0") == 1
    assert {r["k"] for r in t.read().collect()} == {1}
    t.truncate()
    assert t.read().count() == 0
    # injection gate still fires before any SQL reaches the catalog
    with pytest.raises(Exception):
        t.delete_where("1; DROP TABLE x")


def test_memcat_time_travel(spark):
    """Snapshot reads (round 6): every commit appends an immutable
    version; VERSION AS OF n reads it back exactly, TIMESTAMP AS OF
    resolves to the latest snapshot at-or-before, and time-travel views
    reject writes — the Iceberg/Delta read contract on the bundled
    catalog."""
    import time

    ident = f"memcat.db.tt_{_uuid.uuid4().hex[:10]}"
    spark.sql(f"CREATE TABLE {ident} (id INT, v STRING)")           # v0
    spark.sql(f"INSERT INTO {ident} VALUES (1,'a')")                # v1
    mid = time.time()
    time.sleep(0.05)
    spark.sql(f"INSERT INTO {ident} VALUES (2,'b')")                # v2
    spark.createDataFrame([(1, "a2")], "id int, v string").createOrReplaceTempView(
        "tt_src"
    )
    spark.sql(
        f"MERGE INTO {ident} t USING tt_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )                                                               # v3

    def at(ver):
        return sorted(
            (r.id, r.v)
            for r in spark.sql(
                f"SELECT * FROM {ident} VERSION AS OF {ver}"
            ).collect()
        )

    assert at(0) == []
    assert at(1) == [(1, "a")]
    assert at(2) == [(1, "a"), (2, "b")]
    assert at(3) == [(1, "a2"), (2, "b")]
    # live read = latest
    assert sorted((r.id, r.v) for r in spark.table(ident).collect()) == at(3)

    import datetime

    ts = datetime.datetime.utcfromtimestamp(mid).strftime("%Y-%m-%d %H:%M:%S.%f")
    got = sorted(
        (r.id, r.v)
        for r in spark.sql(
            f"SELECT * FROM {ident} TIMESTAMP AS OF '{ts}'"
        ).collect()
    )
    assert got == [(1, "a")]

    # nonexistent version fails loud
    with pytest.raises(Exception, match="no version|INVALID|version"):
        spark.sql(f"SELECT * FROM {ident} VERSION AS OF 99").collect()


def test_memcat_delete_null_three_valued_logic(spark):
    """SQL 3VL on the DELETE pushdown path: a negated predicate over a
    NULL column is UNKNOWN, so NULL-bearing rows must SURVIVE — the
    two-valued evaluator deleted them (round-6 review finding)."""
    ident = f"memcat.db.nvl_{_uuid.uuid4().hex[:10]}"
    spark.sql(f"CREATE TABLE {ident} (id INT, s STRING)")
    spark.sql(f"INSERT INTO {ident} VALUES (1,'a'), (2,'b'), (3, NULL)")
    t = CatalogTable(spark, ident)
    # s <> 'b' is UNKNOWN for the NULL row -> only id=1 deleted
    assert t.delete_where("s <> 'b'") == 1
    assert sorted((r.id, r.s) for r in t.read().collect()) == [
        (2, "b"),
        (3, None),
    ]
    # NOT (s = 'b') likewise keeps the NULL row
    assert t.delete_where("NOT (s = 'b')") == 0
    assert t.read().count() == 2
    # IN over NULL is UNKNOWN too
    assert t.delete_where("s IN ('x', 'y')") == 0
    assert t.read().count() == 2
