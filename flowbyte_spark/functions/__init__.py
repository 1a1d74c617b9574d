"""Engine function library.

Scalar/array helpers shared by queries and operators.  Everything here is a
*Catalyst expression builder* — pure JVM-side built-ins, no Python UDFs —
so expressions stay inside whole-stage codegen and scale to 100 TB.

Cross-engine canonicalization (SURVEY.md §2.11): float aggregates are summed
over DECIMAL(38,6)-cast inputs (exact, order-independent) and only then cast
back to double and rounded, so Spark's partial-aggregation order can never
produce a different hash than the single-threaded duckdb oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

DEC = DecimalType(38, 6)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than
    cores.

    Expression-heavy operators (minhash, simhash, per-pair cosine) are
    CPU-bound per row; a small single-file parquet input otherwise pins the
    whole computation to one task.  The shuffle moves only the raw input
    rows — always cheaper than serializing the hash work.  On real
    multi-file/100 TB inputs partitioning already exceeds cores and this is
    a no-op.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def dec_sum(expr: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent SUM: cast each input to DECIMAL(38,6), sum exactly,
    cast back to double, round.  Matches oracle pattern
    ``ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE), scale)``."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.round(F.sum(c.cast(DEC)).cast("double"), scale).alias(alias)


def dec_avg(expr: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent AVG via exact decimal sum / count."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.round(
        F.sum(c.cast(DEC)).cast("double") / F.count(c), scale
    ).alias(alias)


def q4(expr: Column, scale: int = 4) -> Column:
    """Quantize a double to ``scale`` decimals with HALF-UP semantics using
    only binary float ops: ``floor(x * 10^s + 0.5) / 10^s``.

    Unlike ROUND, every step (multiply, add, floor, divide) is IEEE-exact
    and identical across engines — Spark's BigDecimal-based ROUND and
    DuckDB's C round() disagree on values whose shortest decimal repr sits
    on the .xxxx5 boundary; this never does.  Oracle twin:
    ``FLOOR((x) * 1e4 + 0.5) / 1e4``.
    """
    factor = float(10**scale)
    return F.floor(expr * factor + F.lit(0.5)) / factor


def ts_str(expr: Column | str, alias: str | None = None) -> Column:
    """Render a timestamp as ISO-ish 'yyyy-MM-dd HH:mm:ss' (oracle twin:
    ``strftime(ts, '%Y-%m-%d %H:%M:%S')``) so timestamp semantics never
    enter the hash comparison."""
    c = F.col(expr) if isinstance(expr, str) else expr
    out = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return out.alias(alias) if alias else out


# ---------------------------------------------------------------------------
# Array / vector math (embeddings are ArrayType(FloatType), 64-d fixtures).
# Pure Catalyst: zip_with + aggregate, no UDF — vectorizable, codegen-friendly.
# ---------------------------------------------------------------------------

def _as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays (computed in double)."""
    return F.aggregate(
        F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            _as_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision; both inputs summed in array
    order so the value is bit-identical across engines."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def regex_literal(s: str) -> str:
    """Quote ``s`` so Java regex (``F.split``, ``rlike``) matches it
    literally — ``\\Q...\\E`` with embedded ``\\E`` split out, the same
    construction as ``java.util.regex.Pattern.quote``.

    The split/rejoin operators (paragraph dedup, C4 filter, exact-substr
    dedup) take a ``sep`` that ``F.split`` treats as a REGEX but
    ``array_join`` re-inserts LITERALLY; without quoting, a separator
    containing metacharacters (``.``, ``|``, ``\\n\\n+``) splits and
    rejoins inconsistently.
    """
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def reassemble_in_order(pos_col: str, val_col: str, sep: str) -> Column:
    """Aggregate expression rebuilding a document from (position, value)
    rows: ``array_join(array_sort(collect_list(struct(pos, val))).val, sep)``.

    The rebuild idiom shared by every keep-dropped-pieces operator
    (paragraph dedup, C4 filter, exact-substring dedup): sorting structs
    with the position FIRST restores original order, and field extraction
    via ``.getField`` (not a ``transform`` lambda) keeps the whole rebuild
    inside codegen — BASELINE.md round-5 finding 1.
    """
    return F.array_join(
        F.array_sort(F.collect_list(F.struct(pos_col, val_col))).getField(
            val_col
        ),
        sep,
    )
