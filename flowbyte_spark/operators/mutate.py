"""Mutable parquet tables: append / overwrite / truncate / delete_where /
update_by_keys.

Capability parity with the reference's table-mutation surface
(``flowbyte/sql.py``: 174-188 insert, 191-289 keyed and join updates,
292-332 truncate and delete) on plain parquet storage — no
transactional catalog required.  ``compat.MSSQL`` maps the reference's
calls onto it: ``delete_data`` is :meth:`ParquetTable.truncate` and
``update_from_table`` is :meth:`ParquetTable.update_by_keys` with a
DataFrame source.

The hard part (SURVEY.md §4.3.4) is that Spark cannot overwrite a path it
is lazily reading from.  ``ParquetTable`` therefore uses a
**write-temp-then-swap** protocol: materialize the new state into a
sibling temp directory, then atomically swap directories.  On HDFS/S3 the
swap maps to a rename/two-phase commit; on a transactional v2 catalog
(Delta/Iceberg) all of these operators would compile to native
``MERGE INTO`` / ``DELETE FROM`` instead — this class is the
plain-parquet fallback the fixtures need.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flowbyte_spark import catalog, log
from flowbyte_spark.operators.merge import update_by_keys
from flowbyte_spark.operators.table import Table


class ParquetTable(Table):
    """A directory-backed parquet table with SQL-ish mutation semantics."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        return catalog.read_parquet(self.spark, self.path)

    def exists(self) -> bool:
        return os.path.exists(self.path)

    # -- write protocol -----------------------------------------------------

    def _swap_in(self, df: DataFrame) -> None:
        """Materialize ``df`` beside the table, then swap directories.

        The temp write EXECUTES the plan before the original data moves, so
        a plan that reads from this very table (delete/merge) is safe.
        """
        tmp = f"{self.path}.__tmp__{uuid.uuid4().hex[:8]}"
        bak = f"{self.path}.__bak__{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        had_old = os.path.exists(self.path)
        if had_old:
            os.rename(self.path, bak)
        try:
            os.rename(tmp, self.path)
        except Exception:
            if had_old:
                os.rename(bak, self.path)  # roll back
            raise
        # The new directory's schema is the frame's: seed the schema cache
        # so the next read() skips parquet inference (a job per read).
        catalog.record_schema(self.path, df.schema)
        if had_old:
            shutil.rmtree(bak, ignore_errors=True)

    def overwrite(self, df: DataFrame) -> None:
        self._swap_in(df)

    # -- Tier A operators ----------------------------------------------------

    def append(self, df: DataFrame) -> None:
        """Append rows (reference: chunked insert, sql.py:174-188).

        The reference chunks to bound client memory; Spark writers are
        already bounded per partition, so there is no batch size.
        """
        known = catalog.cached_schema(self.path)
        df.write.mode("append").parquet(self.path)
        # New files move the directory's identity, which retires the cached
        # schema.  It still holds when the appended frame reads back as the
        # same schema; otherwise inference decides on the next read.
        if known is not None and catalog.as_nullable(df.schema) == known:
            catalog.record_schema(self.path, known)
        log.success(f"appended into {self.path}")

    def truncate(self) -> None:
        """Remove all rows, keep the schema (reference: TRUNCATE,
        sql.py:292-302, and DELETE without a predicate, sql.py:307-317)."""
        empty = self.read().limit(0)
        self._swap_in(empty)
        log.success(f"truncated {self.path}")

    def delete_where(self, condition: str) -> int:
        """Delete rows matching a SQL predicate string (reference:
        sql.py:321-332).

        The reference interpolates the raw condition into SQL (injection-
        prone); here the string must parse as a Catalyst boolean expression
        (``F.expr``) — fails closed on anything else.  Returns rows deleted.
        """
        from pyspark.sql import Observation

        current = self.read()
        pred = F.expr(condition)
        # Count the deleted rows ON the survivor-write pass (observe node
        # upstream of the filter) instead of a separate .count() — one scan
        # total, not two.
        obs = Observation(f"delete_where_{uuid.uuid4().hex[:8]}")
        observed = current.observe(
            obs, F.sum(F.when(pred, 1).otherwise(0)).alias("deleted")
        )
        self._swap_in(observed.where(~pred | pred.isNull()))
        deleted = int(obs.get["deleted"] or 0)
        log.success(f"deleted {deleted} rows from {self.path} where {condition}")
        return deleted

    def update_by_keys(
        self,
        update_records: DataFrame | Sequence[Mapping],
        key_columns: Sequence[str],
    ) -> None:
        """Keyed update, set-based (reference: per-record updates,
        sql.py:191-249, and the join update, sql.py:253-289)."""
        current = self.read()
        merged = update_by_keys(current, update_records, key_columns)
        if merged is current:  # keys-only records: an UPDATE that sets nothing
            return
        self._swap_in(merged)
        log.success(f"updated {self.path} on keys {list(key_columns)}")
