"""Drop-in compatibility tests: the reference library's call patterns,
executed verbatim against flowbyte_spark.compat."""

from __future__ import annotations

import pandas as pd
import pytest

from flowbyte_spark.compat import MSSQL, Dataset, Log, PowerBI


@pytest.fixture
def warehouse(spark, tmp_path):
    """A parquet warehouse shaped like host/database/schema.table."""
    from flowbyte_spark.catalog import load_table

    db = tmp_path / "wh" / "salesdb"
    db.mkdir(parents=True)
    for t in ("nation", "customer"):
        load_table(spark, "/root/testdata/sf0.001", t).write.parquet(
            str(db / f"dbo.{t}")
        )
    return str(tmp_path / "wh")


@pytest.fixture
def conn(warehouse):
    c = MSSQL(
        connection_type="spark",
        host=warehouse,
        database="salesdb",
        username="u",
        password="p",
        driver="",
    )
    c.connect()
    yield c
    c.disconnect()


def test_get_data_returns_pandas_with_casts(conn):
    pdf = conn.get_data(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        category_columns=["n_name"],
        float_columns=["n_regionkey"],
    )
    assert isinstance(pdf, pd.DataFrame)
    assert len(pdf) == 25
    assert str(pdf["n_name"].dtype) == "category"
    assert str(pdf["n_regionkey"].dtype) == "float64"


def test_get_data_error_returns_none(conn):
    assert conn.get_data("SELECT * FROM no_such_table") is None


def test_get_data_progress_callback(conn):
    """Reference signature (sql.py:156): callback(message, *args, **kwargs);
    the final message carries the records/memory summary."""
    calls = []
    conn.get_data(
        "SELECT * FROM nation",
        progress_callback=lambda msg, *a, **kw: calls.append((msg, a, kw)),
    )
    assert calls, "callback never invoked"
    msg, args, kwargs = calls[-1]
    assert msg.startswith("Records 25") and "Memory Used:" in msg


def test_get_data_progress_callback_is_incremental(conn, spark):
    """Long multi-task reads must repaint progress while the job runs
    (reference repaints per fetched chunk, sql.py:146-156)."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def slow_ident(v):
        time.sleep(0.2 * (1 + v % 4))
        return v

    spark.range(8).repartition(8).select(
        slow_ident("id").alias("id")
    ).createOrReplaceTempView("slow_rows")

    calls = []
    pdf = conn.get_data(
        "SELECT * FROM slow_rows",
        progress_callback=lambda msg, *a, **kw: calls.append(msg),
    )
    assert len(pdf) == 8
    assert len(calls) >= 2, calls
    assert any(m.startswith("Tasks ") for m in calls), calls
    assert calls[-1].startswith("Records 8")


def test_insert_update_delete_lifecycle(conn):
    conn.insert_data(
        "dbo",
        "nation",
        pd.DataFrame(
            {"n_nationkey": [900], "n_name": ["ATLANTIS"], "n_regionkey": [1]}
        ),
    )
    assert len(conn.get_data("SELECT * FROM nation")) == 26

    conn.update_data(
        "dbo",
        "nation",
        [{"n_nationkey": 900, "n_name": "LEMURIA"}],
        keys=["n_nationkey"],
    )
    pdf = conn.get_data("SELECT n_name FROM nation WHERE n_nationkey = 900")
    assert list(pdf["n_name"]) == ["LEMURIA"]

    conn.delete_data_with_conditions("dbo", "nation", "n_nationkey >= 900")
    assert len(conn.get_data("SELECT * FROM nation")) == 25

    conn.truncate_table("dbo", "nation")
    assert len(conn.get_data("SELECT * FROM nation")) == 0

    columns = list(conn.get_data("SELECT * FROM customer").columns)
    conn.delete_data("dbo", "customer")
    pdf = conn.get_data("SELECT * FROM customer")
    assert len(pdf) == 0 and list(pdf.columns) == columns


def test_update_data_rejects_non_dicts(conn):
    with pytest.raises(TypeError):
        conn.update_data("dbo", "nation", [(1, "x")], keys=["n_nationkey"])


def test_update_from_table_column_quirk(conn, spark):
    """SET list is df.columns[1:] (sql.py:271): the first column of the
    passed frame must NOT be updated even though it exists in both
    tables."""
    import shutil

    src_path = conn._table_path("dbo", "nation_src")
    shutil.copytree(conn._table_path("dbo", "nation"), src_path)
    src = conn._table("dbo", "nation_src")
    from pyspark.sql import functions as F

    src.overwrite(
        src.read().withColumn("n_name", F.lit("RENAMED")).withColumn(
            "n_regionkey", F.lit(9)
        )
    )
    # df: first column n_name (should be skipped), then n_regionkey (set)
    df = pd.DataFrame(columns=["n_name", "n_regionkey"])
    conn.update_from_table(df, "dbo.nation", "dbo.nation_src", ["n_nationkey"])
    pdf = conn.get_data("SELECT DISTINCT n_name, n_regionkey FROM nation")
    assert set(pdf["n_regionkey"]) == {9}          # updated
    assert "RENAMED" not in set(pdf["n_name"])     # quirk preserved


def test_register_warehouse_skips_swap_siblings_and_warns(warehouse, capsys):
    """A swap temp/backup directory is not a table and is skipped quietly;
    a table that fails to read is skipped with a warning naming it."""
    import os

    db = os.path.join(warehouse, "salesdb")
    os.makedirs(os.path.join(db, "dbo.nation.__tmp__0123abcd"))
    os.makedirs(os.path.join(db, "dbo.nation.__bak__0123abcd"))
    with open(os.path.join(db, "dbo.broken.parquet"), "w") as fh:
        fh.write("not parquet")
    c = MSSQL("spark", warehouse, "salesdb", "u", "p", "")
    c.connect()
    err = capsys.readouterr().err
    assert "skipped warehouse table dbo.broken.parquet" in err
    assert "__tmp__" not in err and "__bak__" not in err
    assert len(c.get_data("SELECT * FROM nation")) == 25


def test_log_parity(capsys):
    Log("all good", "success").print_message()
    out = capsys.readouterr().out
    assert "\033[32m" in out and "all good" in out
    Log("oops", "fail").print_message(other_message="details")
    out = capsys.readouterr().out
    assert "\033[31m" in out and "details" in out and "-" * 80 in out
    assert Log("m", "nope").get_status_color("nope") == "\033[30m"  # regular


def test_pbi_surface_with_fake_transport():
    from tests.test_rest_orchestration import FakeService

    svc = FakeService(history=[{"status": "Completed", "id": 7}])
    pbi = PowerBI("cid", "sec", "tenant", scope=["https://scope/.default"])
    pbi.transport = lambda m, url, h, b: (
        (200, {"access_token": "tok-123"})
        if "oauth2" in url
        else svc.transport(m, url, h, b)
    )
    pbi.authenticate()
    assert pbi.user_is_authenticated()

    ds = Dataset("ds1", "ws1", pbi)
    assert ds.get_last_refresh_status() == "Completed"
    hist = ds.get_refreshes(last_n=1)
    assert isinstance(hist, pd.DataFrame) and hist.iloc[0]["status"] == "Completed"
    ds.refresh()
    assert ds.get_last_refresh_status() == "Unknown"  # in flight
    assert svc.posts == 1

def test_jdbc_mode_routes_reads_and_guards_dml(spark):
    """pyodbc/sqlalchemy connection types must hit the remote server, not
    the local catalog: get_data/insert_data delegate to the JDBC source
    (chunksize -> fetchsize/batchsize), set-based DML fails loud instead
    of silently treating the remote host as a parquet directory."""

    class StubJDBC:
        def __init__(self):
            self.calls = []

        def get_data(self, spark, query=None, **kw):
            self.calls.append(("get_data", query, kw))
            return spark.range(3).toDF("remote_id")

        def insert_data(self, df, schema, table_name, chunksize=10000, mode="append"):
            self.calls.append(("insert_data", schema, table_name, chunksize))

    c = MSSQL(
        connection_type="pyodbc",
        host="remote-host",
        database="db",
        username="u",
        password="p",
        driver="ODBC Driver 18 for SQL Server",
    )
    c.connect()
    stub = StubJDBC()
    c.connection = stub

    pdf = c.get_data("SELECT * FROM remote_table", chunksize=500)
    assert list(pdf.columns) == ["remote_id"] and len(pdf) == 3
    assert stub.calls[0][0] == "get_data"
    assert stub.calls[0][1] == "SELECT * FROM remote_table"
    assert stub.calls[0][2]["fetchsize"] == 500

    c.insert_data("dbo", "t", pd.DataFrame({"a": [1, 2]}), chunksize=100)
    assert stub.calls[-1] == ("insert_data", "dbo", "t", 100)

    dml_calls = [
        lambda: c.update_data("dbo", "t", [{"a": 1}], ["a"]),
        lambda: c.update_from_table(pd.DataFrame({"a": [1]}), "t", "s", ["a"]),
        lambda: c.truncate_table("dbo", "t"),
        lambda: c.delete_data("dbo", "t"),
        lambda: c.delete_data_with_conditions("dbo", "t", "a = 1"),
    ]
    for call in dml_calls:
        with pytest.raises(NotImplementedError):
            call()
