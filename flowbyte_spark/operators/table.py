"""Table backend seam: plain parquet vs transactional v2 catalogs.

The reference mutates SQL Server tables in place (insert sql.py:174-188,
update sql.py:191-289, truncate sql.py:292-302, delete sql.py:307-332).
This engine offers one mutation surface — read, append, overwrite,
truncate, delete_where and update_by_keys — on two storage tiers behind
one interface; ``compat.MSSQL`` is the reference-shaped facade over it
(its ``delete_data`` is a truncate, its ``update_from_table`` an
``update_by_keys`` with a DataFrame source):

- :class:`flowbyte_spark.operators.mutate.ParquetTable` — directory-backed
  parquet with the write-temp-then-swap protocol.  Always available; the
  fixtures and oracle tests run on it.
- :class:`CatalogTable` (here) — a table in a transactional v2 catalog
  (Delta Lake / Apache Iceberg): mutations compile to native row-level SQL
  (``MERGE INTO`` / ``DELETE FROM``) that the catalog executes as ACID
  commits with file-level skipping.  At 100 TB this is the real tier — a
  keyed update rewrites only the files holding matched rows instead of the
  whole table, and concurrent readers keep a consistent snapshot.

Both backends share one semantic core: every keyed update goes through
``update_by_keys``, whose delta is normalized by
:func:`flowbyte_spark.operators.merge.prepare_update_delta` (per-column
last-record-wins, explicit-NULL writes, missing-key warnings), so a
pipeline switching ParquetTable → CatalogTable changes commit mechanics,
never results.  The MERGE compiler emits
``CASE WHEN src.__has_c__ THEN src.c ELSE tgt.c END`` per set column —
the SQL transliteration of the join path's
``when(present, new).otherwise(old)``.

No Delta/Iceberg jars ship in this sandbox, so CatalogTable's SQL
generation is unit-tested exactly (tests/test_table_seam.py) and the
end-to-end path is a skip-marked integration test that runs wherever a
v2 catalog is on the classpath.
"""

from __future__ import annotations

import abc
import uuid
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flowbyte_spark import log
from flowbyte_spark.operators.merge import _has, prepare_update_delta


class Table(abc.ABC):
    """Mutation surface every storage backend implements.

    Mirrors the reference's table API (sql.py:174-332) — the contract the
    oracle tests pin on ParquetTable.  ``delete_where`` conditions must
    parse as a Catalyst boolean expression (fail-closed; the reference
    interpolates raw strings, sql.py:321-332, which we deliberately do
    not reproduce).
    """

    @abc.abstractmethod
    def read(self) -> DataFrame: ...

    @abc.abstractmethod
    def exists(self) -> bool: ...

    @abc.abstractmethod
    def append(self, df: DataFrame) -> None: ...

    @abc.abstractmethod
    def overwrite(self, df: DataFrame) -> None: ...

    @abc.abstractmethod
    def truncate(self) -> None: ...

    @abc.abstractmethod
    def delete_where(self, condition: str) -> int: ...

    @abc.abstractmethod
    def update_by_keys(
        self,
        update_records: DataFrame | Sequence[Mapping],
        key_columns: Sequence[str],
    ) -> None: ...


# ---------------------------------------------------------------------------
# SQL compilers — pure string builders, unit-tested without a catalog.
# ---------------------------------------------------------------------------


def quote_ident(name: str) -> str:
    """Backtick-quote one identifier part (`` ` `` doubled inside)."""
    return "`" + name.replace("`", "``") + "`"


def quote_table(identifier: str) -> str:
    """Quote a possibly multi-part table identifier (catalog.db.table)."""
    return ".".join(quote_ident(p) for p in identifier.split("."))


def compile_delete(identifier: str, condition: str | None) -> str:
    """``DELETE FROM`` — unconditional form doubles as truncate (both Delta
    and Iceberg turn a predicate-free DELETE into a metadata-only commit;
    ``TRUNCATE TABLE`` needs the v2 TruncatableTable capability that not
    every catalog exposes)."""
    sql = f"DELETE FROM {quote_table(identifier)}"
    if condition is not None:
        sql += f" WHERE {condition}"
    return sql


def compile_merge_update(
    identifier: str,
    source_view: str,
    keys: Sequence[str],
    set_cols: Sequence[str],
) -> str:
    """``MERGE INTO`` carrying only WHEN MATCHED UPDATE (never INSERT —
    the reference's update_data is an UPDATE, sql.py:191-249).

    The delta has ``__has_<c>__`` markers and each SET compiles to
    ``CASE WHEN src.__has_c__ THEN src.c ELSE tgt.c END`` so a record that
    omits a column leaves it untouched while an explicit NULL overwrites —
    identical to the join path in operators/merge.py.
    """
    tgt, src = quote_table(identifier), quote_ident(source_view)
    on = " AND ".join(
        f"t.{quote_ident(k)} = s.{quote_ident(k)}" for k in keys
    )
    sets = []
    for c in set_cols:
        qc, qh = quote_ident(c), quote_ident(_has(c))
        sets.append(f"t.{qc} = CASE WHEN s.{qh} THEN s.{qc} ELSE t.{qc} END")
    return (
        f"MERGE INTO {tgt} AS t USING {src} AS s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET " + ", ".join(sets)
    )


def validate_predicate(spark: SparkSession, condition: str) -> None:
    """Fail-closed gate for raw predicate strings: must parse as ONE
    Catalyst expression before it is ever interpolated into DELETE SQL.

    ``F.expr`` alone is NOT a gate — Column construction defers parsing —
    so this calls the session's SQL parser eagerly: statements, stacked
    expressions, and ``); OR (1=1``-style injection all raise
    ``ParseException`` here, and the string that survives is by
    construction exactly one boolean-expression parse tree — the same
    thing ParquetTable evaluates via ``F.expr`` at plan time.
    """
    spark._jsparkSession.sessionState().sqlParser().parseExpression(condition)


# ---------------------------------------------------------------------------
# CatalogTable — the transactional tier.
# ---------------------------------------------------------------------------


class CatalogTable(Table):
    """A table in a transactional v2 catalog (Delta / Iceberg).

    ``identifier`` is the catalog-qualified table name.  All mutations are
    single ACID commits executed by the catalog; nothing is rewritten
    driver-side and no swap protocol is needed — the catalog's own
    snapshot isolation replaces ParquetTable's temp-write-then-rename.
    """

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        return self.spark.table(self.identifier)

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.identifier)

    # -- write --------------------------------------------------------------

    def append(self, df: DataFrame) -> None:
        df.writeTo(self.identifier).append()
        log.success(f"appended into {self.identifier}")

    def overwrite(self, df: DataFrame) -> None:
        # REPLACE TABLE AS SELECT: one atomic commit, schema replaced too —
        # the catalog analog of ParquetTable._swap_in.
        df.writeTo(self.identifier).createOrReplace()

    def truncate(self) -> None:
        self.spark.sql(compile_delete(self.identifier, None))
        log.success(f"truncated {self.identifier}")

    def delete_where(self, condition: str) -> int:
        validate_predicate(self.spark, condition)
        # Row count: Delta's DELETE returns num_affected_rows; Iceberg's
        # returns nothing.  Count matches first (predicate-pushdown scan,
        # often metadata-only) so the contract holds on every catalog.
        n = int(self.read().where(F.expr(condition)).count())
        self.spark.sql(compile_delete(self.identifier, condition))
        log.success(
            f"deleted {n} rows from {self.identifier} where {condition}"
        )
        return n

    # -- keyed updates ------------------------------------------------------

    def update_by_keys(
        self,
        update_records: DataFrame | Sequence[Mapping],
        key_columns: Sequence[str],
    ) -> None:
        delta, keys, set_cols = prepare_update_delta(
            self.read(), update_records, key_columns
        )
        if delta is None:  # keys-only records: an UPDATE that sets nothing
            return
        # MERGE analysis requires a DETERMINISTIC source plan: the runtime
        # row-group filter wraps the source in an EXISTS pushed onto the
        # target scan, and the delta's last-record-wins ordering uses
        # monotonically_increasing_id (non-deterministic by declaration).
        # localCheckpoint materializes the computed rows and truncates the
        # plan to them — the delta is one row per updated key, so this is
        # a bounded write, the same size the join path broadcasts.
        # prepare_update_delta guarantees one delta row per key, so the
        # MERGE can never hit the multiple-matches error.
        delta = delta.localCheckpoint(eager=True)
        view = f"__fb_delta_{uuid.uuid4().hex[:12]}"
        delta.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                compile_merge_update(self.identifier, view, keys, set_cols)
            )
        finally:
            self.spark.catalog.dropTempView(view)
        log.success(f"updated {self.identifier} on keys {list(keys)}")
