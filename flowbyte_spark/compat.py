"""Drop-in compatibility layer: the reference library's exact public API,
Spark-backed.

A user of ``flowbyte`` imports ``MSSQL``, ``Log``, ``PowerBI``/``Dataset``
and calls them with the reference's signatures
(/root/reference/src/flowbyte/{sql,pbi,log}.py); this module accepts the
same calls and executes them on the engine:

- pandas in / pandas out at the API boundary (Arrow-converted), Spark
  DataFrames inside;
- the "attached SQL engine" is Spark SQL: ``get_data`` queries the tables
  of a parquet warehouse registered as views (dialect: Spark SQL, not
  T-SQL — the one documented deviation, since the reference's dialect is
  whatever its attached server speaks);
- error behavior mirrors the reference: ``get_data`` logs and returns
  None on failure (sql.py:166-171) instead of raising.

Warehouse layout: ``host`` is a directory, ``database`` a subdirectory,
each table a parquet dir/file named ``{schema}.{table}`` (dbo default).
Every table is re-registered as a view after each write; the schemas come
from the catalog's schema cache (``catalog.read_parquet``), so only a table
changed outside the engine costs a schema-inference job.
"""

from __future__ import annotations

import itertools
import os
import threading
from collections.abc import Callable, Mapping, Sequence

import pandas as pd
from pyspark.sql import SparkSession

from flowbyte_spark import log as _log
from flowbyte_spark.catalog import read_parquet
from flowbyte_spark.operators.casts import apply_casts, normalize_decimals
from flowbyte_spark.operators.mutate import ParquetTable
from flowbyte_spark.session import get_spark


# ---------------------------------------------------------------------------
# log.py parity (log.py:4-45)
# ---------------------------------------------------------------------------
class Log:
    status: str
    message: str

    def __init__(self, message: str, status: str):
        self.message = message
        self.status = status

    def get_status_color(self, status: str) -> str:
        colors = {
            "regular": "\033[30m",
            "fail": "\033[31m",
            "success": "\033[32m",
            "warning": "\033[33m",
            "info": "\033[34m",
        }
        return colors.get(status, colors["regular"])

    def print_message(self, other_message=None) -> None:
        color = self.get_status_color(self.status)
        print(color + self.message + "\033[0m")
        if other_message:
            print("-" * 80)
            print(color + other_message + "\033[0m")
            print("-" * 80)


# ---------------------------------------------------------------------------
# sql.py parity (sql.py:14-332)
# ---------------------------------------------------------------------------
class SQL:
    host: str
    database: str
    username: str
    password: str


class MSSQL(SQL):
    """Reference signature (sql.py:26): connection_type, host, database,
    username, password, driver.

    ``connection_type='spark'`` (the engine-native mode) treats ``host``
    as a parquet warehouse directory.  ``'pyodbc'``/``'sqlalchemy'`` are
    accepted for source compatibility and route to Spark's JDBC reader
    using ``driver`` as the JDBC driver class — they require a driver jar
    on the classpath, exactly as the originals required an ODBC driver.
    """

    def __init__(self, connection_type, host, database, username, password, driver):
        self.connection_type = connection_type
        self.host = host
        self.database = database
        self.username = username
        self.password = password
        self.driver = driver
        self.connection = None
        self.spark: SparkSession | None = None

    # -- connection (sql.py:36-85) ------------------------------------------

    def connect(self):
        self.spark = get_spark(app_name=f"flowbyte-compat-{self.database}")
        if self.connection_type == "spark":
            self._register_warehouse()
            self.connection = self.spark
        else:
            from flowbyte_spark.sources.jdbc import JDBCSource

            self.connection = JDBCSource(
                url=f"jdbc:sqlserver://{self.host};databaseName={self.database}",
                user=self.username,
                password=self.password,
                driver=self.driver,
            )
        _log.success("Connected to the database")
        return self.connection

    def disconnect(self):
        self.connection = None
        _log.info("Connection closed")

    # -- warehouse plumbing ---------------------------------------------------

    def _db_dir(self) -> str:
        return os.path.join(self.host, self.database)

    def _table_path(self, schema_name: str | None, table_name: str) -> str:
        name = f"{schema_name}.{table_name}" if schema_name else f"dbo.{table_name}"
        return os.path.join(self._db_dir(), name)

    def _register_warehouse(self) -> None:
        """Register every warehouse table as a view under its bare table
        name (and nothing else: temp view names cannot contain dots).

        Runs after every write, so schemas come from the catalog's schema
        cache: a table this engine wrote or already read is registered
        without a Spark job; only a table changed by outside code is
        re-inferred.  The swap protocol's ``__tmp__``/``__bak__`` siblings
        are not tables; any other table that fails to read is skipped
        with a warning."""
        db = self._db_dir()
        if not os.path.isdir(db):
            return
        for entry in sorted(os.listdir(db)):
            if ".__tmp__" in entry or ".__bak__" in entry:
                continue
            path = os.path.join(db, entry)
            stem = entry[:-8] if entry.endswith(".parquet") else entry
            table = stem.split(".", 1)[1] if "." in stem else stem
            try:
                read_parquet(self.spark, path).createOrReplaceTempView(table)
            except Exception as e:
                _log.warning(f"skipped warehouse table {entry}: {e}")

    def _table(self, schema_name: str | None, table_name: str) -> ParquetTable:
        return ParquetTable(self.spark, self._table_path(schema_name, table_name))

    # -- read path (sql.py:88-171) --------------------------------------------

    _fetch_seq = itertools.count()

    def _fetch_with_progress(self, df, emit: Callable[[str], None]) -> pd.DataFrame:
        """Collect ``df`` while reporting live progress, mirroring the
        reference's per-chunk repaint during the fetch loop (sql.py:146-156).

        The ODBC chunk loop has no Spark equivalent — the job runs on
        executors — so progress comes from the status tracker instead: the
        fetch runs in its own job group, and a poller thread emits a
        message each time the group's completed-task count changes.
        ``emit`` is invoked from that thread; keep callbacks re-entrant.
        """
        sc = self.spark.sparkContext
        group = f"flowbyte-get-data-{next(self._fetch_seq)}"
        stop = threading.Event()

        def poll() -> None:
            tracker = sc.statusTracker()
            last: tuple[int, int] | None = None
            while not stop.is_set():
                done = total = 0
                for jid in tracker.getJobIdsForGroup(group):
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        stage = tracker.getStageInfo(sid)
                        if stage is not None:
                            done += stage.numCompletedTasks
                            total += stage.numTasks
                if total and (done, total) != last:
                    last = (done, total)
                    emit(f"Tasks {done}/{total}")
                stop.wait(0.05)

        # setJobGroup sets three thread-local properties; save them all so
        # later jobs on this driver thread don't inherit the fetch's group,
        # description, or interrupt flag.
        saved = {
            k: sc.getLocalProperty(k)
            for k in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            )
        }
        sc.setJobGroup(group, "flowbyte compat.get_data fetch")
        poller = threading.Thread(target=poll, daemon=True)
        poller.start()
        try:
            return df.toPandas()
        finally:
            stop.set()
            poller.join(timeout=1.0)
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def get_data(
        self,
        query: str,
        chunksize: int = 10000,
        category_columns: Sequence[str] | None = None,
        bool_columns: Sequence[str] | None = None,
        float_columns: Sequence[str] | None = None,
        round_columns: Sequence[str] | None = None,
        progress_callback: Callable | None = None,
        *args,
        **kwargs,
    ) -> pd.DataFrame | None:
        """Execute SQL, apply cast directives, return a pandas DataFrame.

        Mirrors the reference exactly at the boundary: pandas out,
        ``category_columns`` become pandas categoricals, decimals are
        normalized to (38, 20), errors log-and-return-None
        (sql.py:166-171).  Inside, Spark replaces the chunked ODBC loop —
        in ``spark`` mode ``chunksize`` is superseded by partitioning; in
        JDBC mode it becomes ``fetchsize`` (the cursor batch, same role as
        the reference's chunked fetch).
        """
        try:
            if self.connection_type == "spark":
                df = self.spark.sql(query)
                df = apply_casts(
                    df,
                    bool_columns=bool_columns,
                    float_columns=float_columns,
                    round_columns=round_columns,
                )
                df = normalize_decimals(df)
            else:
                # pyodbc/sqlalchemy connection strings route through JDBC:
                # the remote server runs the query (casts + decimal policy
                # applied by JDBCSource.get_data), never the local catalog.
                df = self.connection.get_data(
                    self.spark,
                    query=query,
                    bool_columns=bool_columns,
                    float_columns=float_columns,
                    round_columns=round_columns,
                    fetchsize=chunksize,
                )
            if progress_callback is not None:
                # reference signature (sql.py:156): callback(message,
                # *args, **kwargs).  Incremental messages report task
                # progress while the job runs; the final message is the
                # reference's records/memory shape.
                pdf = self._fetch_with_progress(
                    df, lambda msg: progress_callback(msg, *args, **kwargs)
                )
            else:
                pdf = df.toPandas()
            for c in category_columns or []:
                pdf[c] = pdf[c].astype("category")
            if progress_callback is not None:
                memory_used = pdf.memory_usage(deep=True).sum() / 1024**2
                progress_callback(
                    f"Records {len(pdf)}  | Memory Used: {memory_used} MB",
                    *args,
                    **kwargs,
                )
            return pdf
        except Exception as e:  # parity: sql.py:166-171
            _log.error("Error getting data")
            _log.error(str(e))
            return None

    # -- write paths (sql.py:174-332) ------------------------------------------

    def _require_spark_mode(self, op: str) -> None:
        """Fail loud instead of silently treating a remote host as a local
        parquet directory: set-based DML against a JDBC server needs
        server-side MERGE/DELETE, which the JDBC DataFrame sink cannot
        express."""
        if self.connection_type != "spark":
            raise NotImplementedError(
                f"{op} is only supported with connection_type='spark' "
                "(JDBC mode supports get_data/insert_data)"
            )

    def insert_data(
        self,
        schema: str,
        table_name: str,
        insert_records: pd.DataFrame,
        chunksize: int = 10000,
    ) -> None:
        df = self.spark.createDataFrame(insert_records)
        if self.connection_type != "spark":
            self.connection.insert_data(df, schema, table_name, chunksize=chunksize)
            return
        table = self._table(schema, table_name)
        if table.exists():
            target_schema = table.read().schema
            from pyspark.sql import functions as F

            df = df.select(
                *[F.col(f.name).cast(f.dataType) for f in target_schema.fields]
            )
        table.append(df)
        self._register_warehouse()

    def update_data(
        self,
        schema_name: str,
        table_name: str,
        update_records: Sequence[Mapping],
        keys: Sequence[str],
    ) -> None:
        """Keyed point updates (sql.py:191-249): list-of-dicts in, set-based
        merge inside (same net state as the reference's per-row loop)."""
        self._require_spark_mode("update_data")
        if not isinstance(update_records, (list, tuple)) or not all(
            isinstance(r, Mapping) for r in update_records
        ):
            _log.error("update_records must be a list of dictionaries")
            raise TypeError("update_records must be a list of dictionaries")
        self._table(schema_name, table_name).update_by_keys(
            list(update_records), list(keys)
        )
        self._register_warehouse()

    def update_from_table(self, df, target_table, source_table, key_columns) -> None:
        """Join-update target from source (sql.py:253-289).

        Faithful quirk: the SET list is ``df.columns[1:]`` — the passed
        DataFrame's columns minus the first (sql.py:271).  Table names
        accept ``schema.table`` or bare (dbo assumed).
        """
        self._require_spark_mode("update_from_table")

        def resolve(name: str) -> ParquetTable:
            schema, _, tbl = name.rpartition(".")
            return self._table(schema or None, tbl)

        target = resolve(target_table)
        source = resolve(source_table)
        # the passed df contributes only its column names (sql.py:268):
        update_columns = [c for c in list(df.columns)[1:] if c not in key_columns]
        updates = source.read().select(
            *dict.fromkeys([*key_columns, *update_columns])
        )
        target.update_by_keys(updates, list(key_columns))
        self._register_warehouse()

    def truncate_table(self, schema_name: str, table_name: str) -> None:
        self._require_spark_mode("truncate_table")
        try:
            self._table(schema_name, table_name).truncate()
            self._register_warehouse()
            _log.success("Table truncated successfully!")
        except Exception as e:  # parity: sql.py:300-302
            _log.error("Error truncating table")
            _log.error(str(e))

    def delete_data(self, schema_name: str, table_name: str) -> None:
        self._require_spark_mode("delete_data")
        try:
            # DELETE without a predicate (sql.py:307-317): same net state
            # as a truncate on parquet
            self._table(schema_name, table_name).truncate()
            self._register_warehouse()
            _log.success("Data deleted successfully!")
        except Exception as e:
            _log.error("Error deleting data")
            _log.error(str(e))

    def delete_data_with_conditions(
        self, schema_name: str, table_name: str, conditions: str
    ) -> None:
        """Predicated delete (sql.py:321-332).  The reference interpolates
        ``conditions`` into raw SQL; here it must parse as a Catalyst
        boolean expression — injection fails closed instead of executing."""
        self._require_spark_mode("delete_data_with_conditions")
        try:
            self._table(schema_name, table_name).delete_where(conditions)
            self._register_warehouse()
            _log.success("Data deleted successfully!")
        except Exception as e:
            _log.error("Error deleting data")
            _log.error(str(e))


# ---------------------------------------------------------------------------
# pbi.py parity (pbi.py:9-214)
# ---------------------------------------------------------------------------
class PowerBI:
    """Service-principal auth (pbi.py:9-61), msal-free: the client-
    credentials flow is one POST, done with the injectable transport."""

    def __init__(self, client_id: str, client_secret: str, tenant_id: str, scope: list):
        self.client_id = client_id
        self.client_secret = client_secret
        self.tenant_id = tenant_id
        self.scope = scope
        self.access_token: str | None = None
        from flowbyte_spark.sources.rest import urllib_transport

        self.transport = urllib_transport

    def get_authority(self) -> str:
        return f"https://login.microsoftonline.com/{self.tenant_id}"

    def authenticate(self) -> None:
        status, payload = self.transport(
            "POST",
            f"{self.get_authority()}/oauth2/v2.0/token",
            # AAD token endpoint requires form encoding (msal does the
            # same under the reference); urllib_transport honors this.
            {"Content-Type": "application/x-www-form-urlencoded"},
            {
                "client_id": self.client_id,
                "client_secret": self.client_secret,
                "scope": " ".join(self.scope),
                "grant_type": "client_credentials",
            },
        )
        if status == 200 and "access_token" in payload:
            self.access_token = payload["access_token"]
            _log.success("Authenticated successfully")
        else:
            self.access_token = None
            _log.error("Authentication failed")

    def user_is_authenticated(self) -> bool:
        return self.access_token is not None


class Workspace:
    workspace_id: str


class Dataset(Workspace):
    """Refresh surface (pbi.py:72-214): history, last status, guarded
    trigger.  Backed by the engine's RefreshOrchestrator state machine."""

    BASE = "https://api.powerbi.com/v1.0/myorg"

    def __init__(self, dataset_id: str, workspace_id: str, powerbi: PowerBI):
        self.dataset_id = dataset_id
        self.workspace_id = workspace_id
        self.powerbi = powerbi

    def _orchestrator(self):
        from flowbyte_spark.sources.rest import RefreshOrchestrator, TokenAuth

        auth = TokenAuth(
            token_url=f"{self.powerbi.get_authority()}/oauth2/v2.0/token",
            client_id=self.powerbi.client_id,
            client_secret=self.powerbi.client_secret,
            scope=" ".join(self.powerbi.scope),
            transport=self.powerbi.transport,
        )
        if self.powerbi.access_token:
            auth._token = self.powerbi.access_token
        return RefreshOrchestrator(
            base_url=(
                f"{self.BASE}/groups/{self.workspace_id}/datasets/{self.dataset_id}"
            ),
            auth=auth,
            transport=self.powerbi.transport,
        )

    def get_refreshes(self, last_n: int = 1) -> pd.DataFrame:
        """History as a DataFrame (pbi.py:89-119 returns a DataFrame)."""
        return pd.DataFrame(self._orchestrator().get_refreshes(last_n))

    def get_last_refresh_status(self) -> str:
        return self._orchestrator().get_last_refresh_status()

    def refresh(self) -> None:
        self._orchestrator().refresh()
