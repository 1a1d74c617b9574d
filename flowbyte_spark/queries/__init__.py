"""Query registry: every verification query (SURVEY.md §2.11) registered as
a (Spark callable, DuckDB oracle SQL) pair.

``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame``; ``ORACLE[name]`` is
ANSI SQL DuckDB runs over the same parquet fixtures.  Column names/aliases
match exactly between the two — the driver sorts columns by name before
hashing values.  Queries with no SQL-expressible oracle (streaming, LSH
internals) register with ``oracle=None`` and get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its DuckDB oracle) to the
    registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # Import for side effects: each module registers its queries.
    from flowbyte_spark.queries import (  # noqa: F401
        batteries,
        batteries2,
        batteries3,
        connectors_q,
        extended,
        functions_q,
        session_q,
        llm,
        llm2,
        pipeline_q,
        pipeline2,
        quality_q,
        relational,
        relational2,
        relational3,
        relational4,
        round10b,
        round11,
        round12,
        round12b,
        round12c,
        scale_q,
        streaming_q,
        tier_a,
    )


_load_all()


def _order_by_number() -> None:
    """Order the registry by query number (v01 ... v160) — the order the
    driver and ``__spark_entry__.queries()`` see."""
    for mapping in (QUERIES, ORACLE):
        items = sorted(
            mapping.items(), key=lambda kv: int(kv[0][1:].split("_", 1)[0])
        )
        mapping.clear()
        mapping.update(items)


_order_by_number()
