"""Set-based keyed merge operators.

Capability parity with the reference's update path
(/root/reference/src/flowbyte/sql.py:191-289), re-designed for scale:

- the reference executes one UPDATE statement *per record* with a commit per
  row (sql.py:233-245) — O(n) driver round-trips;
- here every keyed update (``compat.MSSQL.update_data`` and
  ``update_from_table`` alike) compiles to ONE distributed plan: broadcast (or
  shuffle) the delta, left-join the target on the merge keys, and select
  ``when(present, new).otherwise(old)`` per updatable column.  Net state is
  identical — including explicit-NULL writes, which SQL SET performs and a
  naive ``coalesce(new, old)`` would silently drop.  Cost is a single pass
  over the target.

At 100 TB the delta is almost always small relative to the target, so the
join side is broadcast and the target never shuffles.  For giant deltas,
Catalyst/AQE falls back to a shuffled join automatically — still one pass.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    StringType,
    StructField,
    StructType,
    _infer_type,
    _merge_type,
)

from flowbyte_spark import log


def _has(col: str) -> str:
    return f"__has_{col}__"


def _records_to_df(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType
) -> DataFrame:
    """A DataFrame of ``rows`` under ``schema``, shipped as one Arrow batch.

    ``createDataFrame(rows, schema)`` would pickle the rows into a Python
    RDD, which starts the PySpark daemon and its workers to unpickle them;
    an Arrow table is decoded by the JVM alone.  Values go through
    ``schema.toInternal`` first, exactly as the row path converts them
    (naive datetimes included), so both paths store the same values.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    internal = [schema.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=to_arrow_type(f.dataType))
            for col, f in zip(columns, schema.fields)
        ],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)


def _updates_to_df(
    spark: SparkSession,
    update_records: DataFrame | Sequence[Mapping],
    tgt_types: Mapping | None = None,
) -> tuple[DataFrame, bool]:
    """Normalize updates to (DataFrame, tracks_presence).

    For record lists, a column ABSENT from a dict and a column explicitly
    set to None are different operations in the reference (sql.py:233-245
    issues ``UPDATE … SET`` only for keys the record contains, and SQL SET
    happily writes NULL).  A plain conversion folds both to NULL, so each
    record is augmented with a boolean presence marker per column.  For
    DataFrame inputs every column is present in every row (SQL UPDATE…FROM
    semantics) and no markers are needed.

    Records are built with an explicit schema from ``tgt_types`` — schema
    inference would reject a column that is None in every record, which is
    precisely the "SET col = NULL everywhere" case.
    """
    if isinstance(update_records, DataFrame):
        return update_records, False
    if not isinstance(update_records, (list, tuple)) or not all(
        isinstance(r, Mapping) for r in update_records
    ):
        # same contract as the reference's validation (sql.py:218-219)
        raise TypeError("update_records must be a DataFrame or a list of dicts")
    records = [dict(r) for r in update_records]
    cols: list[str] = []
    for r in records:
        for c in r:
            if c not in cols:
                cols.append(c)

    tgt_types = tgt_types or {}

    def _col_type(c: str) -> DataType:
        vals = [r[c] for r in records if r.get(c) is not None]
        if vals:
            # Mixed int/float in one column would make Spark's schema merge
            # raise (LongType vs DoubleType) — a case the reference's
            # per-row UPDATE loop accepts.  Pre-coerce ints to float; the
            # later cast to the target type restores exact semantics.
            if any(
                isinstance(v, float) for v in vals
            ) and all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in vals
            ):
                for r in records:
                    if r.get(c) is not None:
                        r[c] = float(r[c])
                vals = [float(v) for v in vals]
            # the per-value inference createDataFrame applies to rows
            return reduce(_merge_type, map(_infer_type, vals))
        if c in tgt_types:  # all-None: any type holds NULL — use the target's
            return tgt_types[c]
        return StringType()  # all-None column not in target: dropped later

    schema = StructType(
        [StructField(c, _col_type(c), True) for c in cols]
        + [StructField(_has(c), BooleanType(), False) for c in cols]
    )
    rows = [
        tuple(r.get(c) for c in cols) + tuple(c in r for c in cols)
        for r in records
    ]
    return _records_to_df(spark, rows, schema), True


def prepare_update_delta(
    target: DataFrame,
    update_records: DataFrame | Sequence[Mapping],
    key_columns: Sequence[str],
) -> tuple[DataFrame | None, list[str], list[str]]:
    """Normalize updates into a one-row-per-key merge delta.

    Returns ``(delta, keys, set_cols)`` where ``delta`` carries
    ``keys + set_cols`` plus a boolean ``__has_<c>__`` presence flag per set
    column (last-record-wins per column, explicit NULLs preserved), or
    ``(None, keys, [])`` when the updates set nothing.  Shared by the
    join-based :func:`update_by_keys` and the transactional-catalog MERGE
    compiler (operators/table.py) so both backends apply byte-identical
    update semantics.
    """
    spark = target.sparkSession
    tgt_types = {f.name: f.dataType for f in target.schema.fields}
    updates, tracks_presence = _updates_to_df(spark, update_records, tgt_types)
    data_cols = [c for c in updates.columns if not c.startswith("__has_")]

    keys = [k for k in key_columns]
    missing = [k for k in keys if k not in data_cols]
    if missing:
        log.warning(
            f"key column(s) {missing} missing from update records — "
            "skipped from the merge predicate"
        )
        keys = [k for k in keys if k not in missing]
    if not keys:
        raise ValueError("no usable key columns for update_by_keys")

    set_cols = [c for c in data_cols if c not in keys and c in target.columns]
    unknown = [c for c in data_cols if c not in target.columns]
    if unknown:
        log.warning(f"update columns {unknown} not present in target — ignored")
    if not set_cols:  # keys-only records: an UPDATE that sets nothing
        return None, keys, []

    # Align update-side types with the target before the join so the merge
    # never widens the table schema (int delta vs long target etc.).
    updates = updates.select(
        *[F.col(c).cast(tgt_types[c]).alias(c) for c in keys + set_cols],
        *[
            (F.col(_has(c)) if tracks_presence else F.lit(True)).alias(_has(c))
            for c in set_cols
        ],
    )
    # One delta row per key, per COLUMN — the reference applies records in
    # list order, each row's UPDATE setting only the columns that record
    # contains (sql.py:233-245).  So a column's final value comes from the
    # LAST record that carries it (explicit NULLs included); records that
    # omit it don't disturb an earlier record's write.  max_by ignores rows
    # whose ordering key is NULL, so gating __seq__ on presence selects
    # exactly that record.
    updates = (
        updates.withColumn("__seq__", F.monotonically_increasing_id())
        .groupBy(*keys)
        .agg(
            *[
                F.max_by(c, F.when(F.col(_has(c)), F.col("__seq__"))).alias(c)
                for c in set_cols
            ],
            *[F.max(_has(c)).alias(_has(c)) for c in set_cols],
        )
    )
    return updates, keys, set_cols


def update_by_keys(
    target: DataFrame,
    update_records: DataFrame | Sequence[Mapping],
    key_columns: Sequence[str],
) -> DataFrame:
    """Apply keyed point-updates to ``target``; returns the merged DataFrame.

    Semantics of the reference's ``update_data`` (sql.py:191-249): every
    non-key column present in the updates overwrites the matching target
    row; unmatched target rows pass through unchanged.  A key column missing
    from the updates is dropped from the join predicate with a warning,
    mirroring sql.py:236-239 (where a record lacking a key loses that
    predicate term).

    Updates that match no target row are ignored (an SQL UPDATE never
    inserts) — use :meth:`ParquetTable.append` for inserts.
    """
    updates, keys, set_cols = prepare_update_delta(
        target, update_records, key_columns
    )
    if updates is None:
        return target

    u = F.broadcast(updates.alias("u"))
    t = target.alias("t")
    cond = None
    for k in keys:
        term = F.col(f"t.{k}") == F.col(f"u.{k}")
        cond = term if cond is None else (cond & term)

    # when(present, update) — NOT coalesce: an explicit NULL in a record
    # must overwrite the target value, exactly as SQL SET col = NULL does.
    # Unmatched target rows have a NULL presence flag → otherwise branch.
    merged = t.join(u, cond, "left").select(
        *[
            (
                F.when(
                    F.col(f"u.{_has(c)}").eqNullSafe(F.lit(True)),
                    F.col(f"u.{c}"),
                ).otherwise(F.col(f"t.{c}"))
                if c in set_cols
                else F.col(f"t.{c}")
            ).alias(c)
            for c in target.columns
        ]
    )
    return merged


def scd2_apply(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    effective_date: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
    validate_keys: bool = True,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: version history, not
    overwrite.

    ``target`` carries ``keys + tracked + (from_col, to_col, current_col)``;
    ``updates`` carries ``keys + tracked`` (one record per key — duplicate
    keys in a batch raise unless ``validate_keys=False``) and
    takes effect at ``effective_date`` (a literal, e.g. '2024-06-01').
    Where a current target row differs from its update on any tracked
    column (null-safe comparison), the old version is CLOSED
    (``to_col = effective_date``, current = false) and a NEW version row is
    appended; identical updates are no-ops; keys absent from the target are
    inserted as first versions.  Closed history rows pass through
    untouched.

    One pass over the target: changed-key detection joins current rows to
    the (small) update set — broadcast by AQE when it fits — then the
    history table is rebuilt as ``history ∪ kept-current ∪ closed ∪ new
    versions``, a union of narrow projections over the SAME scan (Spark
    reuses the exchange).  Contrast with the reference's per-row
    UPDATE-with-commit loop (/root/reference/src/flowbyte/sql.py:233-245):
    same net state at 1 row, set-based at 100 TB.

    Dates travel as strings so results hash identically across engines
    (see SURVEY.md §2.11 determinism convention).

    NULL business keys are handled null-safely (round 15): every join
    below runs on a struct-wrapped key (struct equality is null-safe
    per field — the engine's r14 two-phase-rewrite convention), so a
    NULL-key member versions exactly like any other key.  With raw-key
    joins a NULL-key update could never close its current row AND
    always re-inserted a "first version" — two current rows for one
    member, the invariant this merge exists to keep.
    """
    keys = list(keys)
    tracked = list(tracked)
    if "__jk__" in {*target.columns, *updates.columns}:
        raise ValueError("column name __jk__ is reserved by scd2_apply")

    def _jk(df: DataFrame) -> DataFrame:
        return df.withColumn("__jk__", F.struct(*keys))

    cur = _jk(target.where(F.col(current_col)))
    hist = target.where(~F.col(current_col))

    u = _jk(updates.select(*keys, *tracked))
    if validate_keys:
        # A batch shares one effective_date, so two versions of the same
        # key in it would produce colliding (valid_from, valid_to) rows
        # and an ambiguous is_current — fail loudly instead of silently
        # writing both.  One aggregate job over the (small) update side;
        # pass validate_keys=False when the caller guarantees uniqueness.
        dup = (
            u.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            dup_key = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"scd2_apply: update batch carries {dup[0]['__n']} records "
                f"for key {dup_key}; one batch = one version per key "
                "(split into per-date batches, or pre-collapse with "
                "update_by_keys last-record-wins semantics)"
            )
    differs = None
    for c in tracked:
        term = ~F.col(f"t.{c}").eqNullSafe(F.col(f"u.{c}"))
        differs = term if differs is None else (differs | term)
    changed_keys = (
        cur.alias("t")
        .join(u.alias("u"), "__jk__")
        .where(differs)
        .select("__jk__")
    )

    closed = (
        cur.join(changed_keys, "__jk__", "left_semi")
        .withColumn(to_col, F.lit(effective_date))
        .withColumn(current_col, F.lit(False))
    )
    kept = cur.join(changed_keys, "__jk__", "left_anti")
    new_versions = (
        u.join(changed_keys, "__jk__", "left_semi")
        .withColumn(from_col, F.lit(effective_date))
        .withColumn(to_col, F.lit(None).cast("string"))
        .withColumn(current_col, F.lit(True))
    )
    inserts = (
        u.join(cur.select("__jk__"), "__jk__", "left_anti")
        .withColumn(from_col, F.lit(effective_date))
        .withColumn(to_col, F.lit(None).cast("string"))
        .withColumn(current_col, F.lit(True))
    )
    out_cols = target.columns
    result = hist.select(*out_cols)
    for piece in (kept, closed, new_versions, inserts):
        result = result.unionByName(piece.select(*out_cols))
    return result
