"""Every metric the benchmark reports, with the workload set it runs on.

``END_TO_END`` metrics are measured with tracing off.  ``cpu_s`` is the
CPU time, user plus system over the whole process tree (Python driver,
JVM, Python workers), of the measured pass: the first pass over the
workload's operations in a fresh session.  The pass's wall time is the
per-layer metric ``WALL``, with no bound: on a shared host it follows
the CPU time other tenants take from the benchmark's cores (steal), and
at sf0.01 a pass is mostly fixed per-job costs the JIT is still
compiling, which amplifies that.  Over six fresh ``engine_queries``
processes at steal 0.01 to 0.18 on a 4-core host, the first-pass wall
spread 0.41 of its median and the first-pass CPU time 0.14
(perfbench/README.md).

Each ``PER_LAYER`` metric comes from the traced run and names the layer
(module) it reads, the end-to-end metric it should move and the
workloads where it should move it.  Per-layer values are those of the
measured pass, traced; ``session.get_spark_s`` is the one set-up call.

Peak memory is ``MEMORY``, a per-layer metric with no bound: with the
engine's default 16g driver heap the JVM grows its heap by GC timing, and
the run-to-run spread of the peak (0.40 of the median over five runs of
``engine_queries``) is wider than any bound a regression check can use.
Layers that should move memory name it instead of an end-to-end metric.
"""

from __future__ import annotations

from perfbench.workloads import WORKLOADS

# name -> (unit, better, bound)
END_TO_END = {
    "cpu_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
}
MEMORY = "proc.peak_rss_mb"
WALL = "proc.wall_s"

COMPAT_OPS = (
    "connect",
    "get_data",
    "insert_data",
    "update_data",
    "update_from_table",
    "delete_data_with_conditions",
    "truncate_table",
)
MUTATE_OPS = ("append", "update_by_keys", "overwrite", "delete_where", "truncate")
STREAM_PHASES = {  # metric -> StreamingQueryProgress.durationMs key
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.get_batch_s": "getBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}

ALL = WORKLOADS
ETL = ("etl_compat",)
ENGINE = ("engine_queries",)


def _per_layer() -> dict[str, tuple[str, str, str, tuple[str, ...]]]:
    """name -> (unit, better, end-to-end metric it moves, workloads)."""
    m: dict[str, tuple[str, str, str, tuple[str, ...]]] = {
        "session.get_spark_s": ("s", "lower", "setup_s", ALL),
        "catalog.load_table_calls": ("count", "lower", "cpu_s", ENGINE),
        "catalog.load_table_s": ("s", "lower", "cpu_s", ENGINE),
        "queries.build_s": ("s", "lower", "cpu_s", ENGINE),
        "queries.build_jobs": ("count", "lower", "cpu_s", ENGINE),
        "queries.run_s": ("s", "lower", "cpu_s", ENGINE),
        "queries.run_jobs": ("count", "lower", "cpu_s", ENGINE),
        "queries.run_stages": ("count", "lower", "cpu_s", ENGINE),
        "queries.run_tasks": ("count", "lower", "cpu_s", ENGINE),
        "queries.failed_tasks": ("count", "lower", "cpu_s", ENGINE),
        "queries.executor_run_s": ("s", "lower", "cpu_s", ENGINE),
        "queries.executor_cpu_s": ("s", "lower", "cpu_s", ENGINE),
        "queries.gc_s": ("s", "lower", MEMORY, ENGINE),
        "queries.shuffle_write_mb": ("MB", "lower", "cpu_s", ENGINE),
        "queries.spill_mb": ("MB", "lower", MEMORY, ENGINE),
        "dedup.minhash_lsh_pairs_s": ("s", "lower", "cpu_s", ENGINE),
        "dedup.minhash_lsh_pairs_jobs": ("count", "lower", "cpu_s", ENGINE),
        "srp.srp_neardup_pairs_s": ("s", "lower", "cpu_s", ENGINE),
        "srp.srp_neardup_pairs_jobs": ("count", "lower", "cpu_s", ENGINE),
        "components.connected_components_s": ("s", "lower", "cpu_s", ENGINE),
        "components.connected_components_jobs": ("count", "lower", "cpu_s", ENGINE),
        "cache.release_persisted_s": ("s", "lower", MEMORY, ENGINE),
        "cache.released": ("count", "higher", MEMORY, ENGINE),
    }
    for op in COMPAT_OPS:
        moves = MEMORY if op == "get_data" else "cpu_s"
        m[f"compat.{op}_s"] = ("s", "lower", moves, ETL)
        m[f"compat.{op}_jobs"] = ("count", "lower", "cpu_s", ETL)
    m["compat.get_data_rows"] = ("count", "higher", MEMORY, ETL)
    for op in MUTATE_OPS:
        where = ALL if op == "update_by_keys" else ETL
        m[f"mutate.{op}_s"] = ("s", "lower", "cpu_s", where)
    m["streaming.triggers"] = ("count", "lower", "cpu_s", ENGINE)
    for name in STREAM_PHASES:
        m[name] = ("s", "lower", "cpu_s", ENGINE)
    m["streaming.run_available_now_s"] = ("s", "lower", "cpu_s", ENGINE)
    m["proc.cpu_s"] = ("s", "lower", "cpu_s", ALL)
    m[MEMORY] = ("MB", "lower", MEMORY, ALL)
    m[WALL] = ("s", "lower", WALL, ALL)
    m["trace.overhead_s"] = ("s", "lower", WALL, ALL)
    return m


PER_LAYER = _per_layer()
