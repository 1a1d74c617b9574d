"""Tracked persistence for operator-internal caches.

The LSH dedup family persists intermediates as plan barriers (the shingle
table must compute once, not once per self-join side, and persisting
defeats the InferFiltersFromGenerate recompute trap).  Those caches must
outlive the operator call — the caller materializes the returned plan
later — so the operators cannot unpersist eagerly.  Instead every such
persist is registered here, and long-lived pipelines release executor
storage memory between stages:

    pairs = minhash_lsh_pairs(df, ...)
    pairs.write.parquet(out)          # materialize first
    cache.release_persisted()         # then drop the cached blocks

Unreleased entries are bounded by the number of operator calls, and
``release_persisted`` is idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# DataFrames (persist) and checkpoint handles — all expose .unpersist().
_TRACKED: list = []


class CheckpointHandle:
    """Release handle for ``localCheckpoint`` block storage.

    Checkpoint blocks live on an internal RDD OUTSIDE the CacheManager, so
    ``DataFrame.unpersist()`` cannot reach them and waiting on driver GC +
    ContextCleaner is nondeterministic.  The handle frees the underlying
    RDD by id.  One contract difference from a persist: a released
    checkpoint CANNOT recompute (the blocks were the data) — any plan
    built on it raises a block-not-found SparkException on its next
    action, so release only after every such plan has been materialized.
    ``released`` records that the point of no return has passed.
    """

    def __init__(self, spark_context, rdd_ids: list[int]):
        self._jsc = spark_context._jsc
        self.rdd_ids = list(rdd_ids)
        self.released = False

    def unpersist(self, blocking: bool = False) -> None:
        mapping = self._jsc.getPersistentRDDs()
        for rid in self.rdd_ids:
            rdd = mapping.get(rid)
            if rdd is not None:
                rdd.unpersist(blocking)
        self.rdd_ids = []
        self.released = True


class ReliableCheckpointHandle:
    """Release handle for reliable (``DataFrame.checkpoint``) storage.

    A reliable checkpoint writes the materialized rows under the
    context's checkpoint directory (HDFS/object store on a real cluster),
    so it survives executor loss — the scale-out swap for
    ``localCheckpoint`` documented in docs/SCALE.md.  Release deletes the
    checkpoint files through the Hadoop FileSystem API (scheme-agnostic);
    the same materialize-before-release contract applies.
    """

    def __init__(self, spark_context, paths: list[str]):
        self._sc = spark_context
        self.paths = list(paths)
        self.released = False

    def unpersist(self, blocking: bool = False) -> None:
        jvm = self._sc._jvm
        conf = self._sc._jsc.hadoopConfiguration()
        for p in self.paths:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = jpath.getFileSystem(conf)
            fs.delete(jpath, True)
        self.paths = []
        self.released = True


def _checkpointed_rdd_id(df: DataFrame) -> int | None:
    """Exact id of the RDD backing a just-checkpointed DataFrame.

    ``Dataset.checkpoint`` (both flavors) returns a plan whose analyzed
    root is a ``LogicalRDD`` wrapping the materialized RDD — its id is
    the one ``localCheckpoint`` registered (or ``rdd-<id>`` names on
    disk).  Exact accounting matters: diffing the persistent-RDD registry
    around the call instead would also capture any LAZY input cache that
    happened to materialize inside the window, and freeing that cache by
    mistake silently re-scans the input every subsequent round (an r4
    advisor finding, reproduced empirically).
    """
    try:
        return df._jdf.queryExecution().analyzed().rdd().id()
    except Exception:
        return None


def local_checkpoint(
    df: DataFrame, release: CheckpointHandle | None = None
) -> tuple[DataFrame, CheckpointHandle]:
    """Eager ``localCheckpoint`` with deterministic block accounting.

    Returns ``(checkpointed_df, handle)``.  ``release`` — the handle of a
    now-superseded checkpoint (e.g. the previous round of an iterative
    operator) — is freed only AFTER the new checkpoint materializes, so at
    any instant at most two round tables are resident and old rounds never
    pile up waiting for a GC cycle.
    """
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=True)
    rid = _checkpointed_rdd_id(out)
    if rid is None:  # plan-shape drift: fall back to the registry diff
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        ids = sorted(after - before)
    else:
        ids = [rid]
    handle = CheckpointHandle(sc, ids)
    if release is not None:
        release.unpersist()
    return out, handle


def reliable_checkpoint(
    df: DataFrame, release=None
) -> tuple[DataFrame, ReliableCheckpointHandle]:
    """Eager reliable ``checkpoint`` with deterministic file accounting.

    Same contract as ``local_checkpoint``, but the materialized rows live
    under ``sc.setCheckpointDir(...)`` (call it first — HDFS/object store
    on a real cluster), so rounds survive executor loss.  The files for
    one checkpoint are exactly ``<checkpointDir>/rdd-<id>``.
    """
    sc = df.sparkSession.sparkContext
    ckdir = sc.getCheckpointDir()
    if ckdir is None:
        raise RuntimeError(
            "reliable_checkpoint needs sc.setCheckpointDir(...) first"
        )
    out = df.checkpoint(eager=True)
    rid = _checkpointed_rdd_id(out)
    if rid is None:
        raise RuntimeError(
            "could not resolve the checkpointed RDD id; refusing to guess "
            "which files under the shared checkpoint dir to own"
        )
    handle = ReliableCheckpointHandle(sc, [f"{ckdir}/rdd-{rid}"])
    if release is not None:
        release.unpersist()
    return out, handle


def make_checkpointer(spark: SparkSession, checkpoint_dir: str | None):
    """Select the round-checkpoint flavor for an iterative operator.

    ``checkpoint_dir=None`` → ``localCheckpoint`` (fastest; blocks die
    with an executor — fine single-node and for restartable jobs).  A
    directory → reliable checkpoints there (the 100 TB cluster path).
    """
    if checkpoint_dir is None:
        return local_checkpoint
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return reliable_checkpoint


def track_checkpoint(handle) -> "CheckpointHandle | ReliableCheckpointHandle":
    """Register a checkpoint handle for ``release_persisted``.  Unlike a
    tracked persist, the checkpointed plan is UNUSABLE after release —
    materialize results first (the documented usage pattern)."""
    _TRACKED.append(handle)
    return handle


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for later release."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked entry; returns how many were released.

    Persist entries are safe to release at any time (plans recompute on
    the next action); checkpoint entries are gone for good — callers
    follow the materialize-then-release pattern above.
    """
    released = 0
    while _TRACKED:
        entry = _TRACKED.pop()
        try:
            entry.unpersist()
            released += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return released
