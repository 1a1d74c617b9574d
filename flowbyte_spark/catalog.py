"""Fixture-table catalog: load the TESTDATA parquet tables and register views.

The reference addresses tables as ``schema.table`` inside an attached MSSQL
database (/root/reference/src/flowbyte/sql.py:174, :292-302).  Here the
catalog is Spark's own: each parquet file becomes a temp view so the full
Tier-B relational surface is reachable through ``spark.sql`` and the
DataFrame API alike.

Parquet + temp views keep scans pruned and pushed down: filters and column
selections land in the parquet reader (check ``PushedFilters``/``ReadSchema``
in ``df.explain('formatted')``).

``read_parquet`` is the engine's one parquet reader for local paths: it
serves schemas from a metastore-style cache keyed on the path's identity,
which the engine's own writers (``ParquetTable``) keep current, so a read
does not pay Spark's schema-inference job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
)

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Parquet schema cache, shared by every engine reader of a local parquet
# path (``load_table``, ``ParquetTable.read``, the compat warehouse views).
# Spark's parquet schema inference launches a job on every
# ``spark.read.parquet`` (file listing + footer parse); a metastore serves
# the schema from metadata instead, and so does this cache: a hit reads
# with ``spark.read.schema(known)``, which launches nothing.
#
# An entry is valid for one identity of its path, ``(st_ino,
# st_mtime_ns)``.  Every writer that replaces a table changes it: a rename
# swap (``ParquetTable``) brings a new inode, and adding or removing a
# file in a table directory moves the directory's mtime.  Engine writers
# record the schema they just wrote (``record_schema``), so a read after
# an engine write skips inference too.  Paths ``os.stat`` cannot see
# (object stores, URIs) are never cached.  Every lookup compares the
# identity again, so threads racing on one path can lose an entry but
# never serve a schema recorded for another state of the path.
@dataclass
class _Entry:
    identity: tuple[int, int]
    schema: StructType
    nano_long: list[str] | None = None  # load_table's nanos columns, on first use


_SCHEMAS: dict[str, _Entry] = {}


def _identity(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns)


def _entry(path: str) -> _Entry | None:
    """The cached entry for ``path`` if it matches the path as it is now."""
    entry = _SCHEMAS.get(os.path.abspath(path))
    if entry is None or entry.identity != _identity(path):
        return None
    return entry


def cached_schema(path: str) -> StructType | None:
    entry = _entry(path)
    return entry.schema if entry is not None else None


def as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the schema
    Spark reads back from parquet it wrote, whatever the frame declared."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(as_nullable(dt.keyType), as_nullable(dt.valueType), True)
    return dt


def record_schema(path: str, schema: StructType) -> None:
    """Record the schema a writer just wrote to ``path`` (as parquet reads
    it back: every field nullable) under the path's current identity."""
    identity = _identity(path)
    if identity is None:
        return
    _SCHEMAS[os.path.abspath(path)] = _Entry(identity, as_nullable(schema))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema served from the cache
    when the path has not changed since it was last read or written."""
    known = cached_schema(path)
    if known is not None:
        return spark.read.schema(known).parquet(path)
    identity = _identity(path)
    df = spark.read.parquet(path)
    if identity is not None and identity == _identity(path):
        _SCHEMAS[os.path.abspath(path)] = _Entry(identity, df.schema)
    return df


def _nano_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (Spark has no nanos type).

    Footer-only inspection via pyarrow — O(1) regardless of data size, so
    it is safe on the driver even for 100 TB datasets.
    """
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        files = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if not files:
            return []
        target = os.path.join(path, files[0])
    try:
        schema = pq.read_schema(target)
    except Exception:
        return []
    import pyarrow as pa

    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a fixture table under one timestamp convention: every temporal
    column comes back as TimestampType (LTZ, session TZ pinned UTC).

    Two drift sources are normalized at this single choke point so a
    fixture regen cannot break registered queries (round 3's v34 broke
    exactly this way — `ts` flipped from tz-aware to naive micros, Spark 4
    read TIMESTAMP_NTZ, and a downstream cast became illegal):

    - parquet timestamp[ns] (Spark has no nanos type): read as long,
      truncate to micros — matching DuckDB over the same files;
    - parquet naive timestamps (Spark 4 reads TIMESTAMP_NTZ): cast to
      LTZ, value-preserving under the UTC session.
    """
    path = table_path(sf_dir, name)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    entry = _entry(path)
    schema = entry.schema if entry is not None else df.schema
    if entry is not None and entry.nano_long is not None:
        nano_long = entry.nano_long
    else:
        # Gate on what Spark ACTUALLY read: true nanos columns surface as
        # LONG under nanosAsLong and need the micros rewrite; INT96
        # columns (Spark's legacy write default) also report ns in the
        # pyarrow footer but Spark reads them as proper TIMESTAMP already —
        # rewriting those is a type error, not a fix.
        nano_long = [
            c
            for c in _nano_timestamp_cols(path)
            if isinstance(schema[c].dataType, LongType)
        ]
        if entry is not None:
            entry.nano_long = nano_long
    ntz = [
        f.name for f in schema.fields
        if f.dataType.typeName() == "timestamp_ntz"
    ]
    for c in nano_long:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; return name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
