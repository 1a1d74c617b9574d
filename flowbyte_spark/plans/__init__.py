"""Plan introspection: assert the physical plan is the one you designed.

At 100 TB the difference between a broadcast-hash join and a shuffled
sort-merge join, or between a pruned and an unpruned scan, is the whole
job.  These helpers turn ``explain()`` output into testable predicates so
the test suite locks in plan properties, not just result values
(SURVEY.md §4.2's free-from-Catalyst list becomes assertions here).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def uses_nested_loop_join(df: DataFrame) -> bool:
    return "BroadcastNestedLoopJoin" in physical_plan(df) or (
        "CartesianProduct" in physical_plan(df)
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node ('' when nothing pushed)."""
    plan = physical_plan(df)
    out = []
    for line in plan.splitlines():
        if "PushedFilters" in line:
            out.append(line.strip())
    return "\n".join(out)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return fragment in pushed_filters(df)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the source (column-pruning witness)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema"):
            inside = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            for part in inside.split(","):
                name = part.split(":")[0].strip()
                if name:
                    cols.append(name)
    return cols


def shuffle_exchanges(df: DataFrame) -> int:
    """Count of shuffle Exchange nodes (each is a full network pass).

    Formatted explain puts the node header ``(n) Exchange`` and its
    ``Arguments: hashpartitioning(...)`` detail on separate lines, so the
    two are matched up here; SinglePartition exchanges (driver-side
    collect of tiny results) are not counted."""
    import re

    lines = physical_plan(df).splitlines()
    count = 0
    for i, line in enumerate(lines):
        if re.match(r"^\(\d+\) Exchange", line.strip()):
            for j in range(i + 1, min(i + 8, len(lines))):
                arg = lines[j].strip()
                if arg.startswith("Arguments:"):
                    if "hashpartitioning" in arg or "rangepartitioning" in arg:
                        count += 1
                    break
    return count


def observed(df, name: str, *metrics):
    """Attach inline metrics to a DataFrame (Spark's Observation API):
    the aggregates are computed DURING the action that consumes ``df`` —
    no second pass over the data, which at 100 TB is the difference
    between free accounting and doubling the job.

    Returns ``(df, observation)``; read ``observation.get`` AFTER an
    action ran.  The canonical pipeline use: rows-in/rows-kept counters
    on a quality filter so kill rates ship with every run's metrics
    rather than needing an audit query.

    Session-lifetime side effect (root-caused round 8): the first
    Observation on a session materializes SparkSession's lazy,
    NON-SERIALIZABLE ``ObservationManager`` field.  From then on, any
    task closure that (usually unintentionally) captures the
    SparkSession — e.g. Spark ML's ``model.transform`` UDF via the
    model's non-transient ``trainingSummary`` — fails with ``Task not
    serializable: ObservationManager``.  That failure is a symptom of a
    closure dragging the whole session toward executors, which was never
    healthy; keep sessions out of closures (see
    ``operators/signals.quality_scores`` for the pattern) rather than
    avoiding this API.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs
