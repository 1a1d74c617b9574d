"""Connected components over a near-duplicate pair list.

Near-dup detection (MinHash/SimHash/embedding blocking) emits PAIRS, but a
dedup pipeline needs CLUSTERS: if A~B and B~C, all three are one group and
exactly one survivor should be kept.  That is connected components on the
pair graph, which the reference delegates wholesale to its attached engine
(pass-through SQL, /root/reference/src/flowbyte/sql.py:109); Spark has no
built-in either, so this implements min-label propagation:

1. symmetrize the edge list (one shuffle, done once);
2. every node starts labeled with its own id;
3. iterate: each node takes ``min(own label, min over neighbors'
   labels)`` — a join + partial-aggregating ``groupBy(dst).min`` per
   round, each O(|E|) with map-side combine;
4. stop when a round changes no label (an exact changed-row count,
   valid for any id type — string ids included).

Rounds needed = graph diameter.  Near-dup clusters are dense and tiny
(a duplicate "family" collapses in 2-3 hops), so the loop converges in a
handful of rounds even at 100 TB; a long chain needs ``max_iterations``
at least its diameter.

Each round ``localCheckpoint(eager=True)``-s the new table: unlike
``persist`` (which caches data but keeps the full logical plan, so the
plan DOUBLES per round and kills the driver rendering it by ~round 10),
a local checkpoint truncates lineage to the materialized RDD — the plan
stays one round deep no matter how many rounds run.  Superseded rounds
are freed deterministically (``cache.local_checkpoint`` releases the
previous handle once the new round materializes), so executor storage
holds at most two round tables at any instant — never a GC-paced pile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flowbyte_spark import log
from flowbyte_spark.operators.cache import (
    make_checkpointer,
    persist_tracked,
    track_checkpoint,
)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Assign every node in ``pairs`` its component id (= min node id in
    the component).

    Returns ``(id, comp)`` for every node that appears in at least one
    pair.  Isolated nodes (no pairs) are the caller's concern — they are
    their own component by definition and need no shuffle to label.

    ``checkpoint_dir`` switches the per-round lineage truncation from
    ``localCheckpoint`` (blocks die with an executor) to reliable
    checkpoints under that directory — point it at HDFS/object storage on
    a real cluster so a 100 TB run survives executor loss.

    The returned DataFrame is the final round's checkpoint, registered
    with ``cache.release_persisted()``; materialize it before releasing.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    checkpoint = make_checkpointer(pairs.sparkSession, checkpoint_dir)
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # symmetrize WITHOUT distinct: the pair list already has id_a < id_b
    # unique, and duplicate edges would only add rows to a min-aggregate —
    # a needless shuffle to remove.
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # reused every round: keep it resident instead of re-shuffling
    edges = persist_tracked(edges)

    # Round-1 fusion (r16, guide §2.4 — remove shuffles outright): the old
    # init built `comp = id` from a distinct over the symmetrized edges —
    # one shuffle that computed NOTHING the first loop round didn't
    # immediately redo (round 1's neighbor minimum over all-initial labels
    # is just min(src) per dst group).  Fold that first round into the
    # init aggregate: same single shuffle, but the labels start at the
    # round-1 state, so a typical near-dup graph (diameter 2-3, measured
    # 2 label rounds on the v64 fixture graph) saves one full
    # join+aggregate+checkpoint+convergence cycle per call.  Every node
    # appears as dst in the symmetrized edge list, so the groupBy(dst)
    # key set IS the old distinct(src) node set.
    labels, handle = checkpoint(
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("nbr_min"))
        .select(
            "id",
            F.least(F.col("id"), F.col("nbr_min")).alias("comp"),
            (F.least(F.col("id"), F.col("nbr_min")) != F.col("id"))
            .cast("long")
            .alias("changed"),
        )
    )
    changed = labels.agg(F.sum("changed")).collect()[0][0] or 0
    converged = changed == 0  # round 1 moved nothing: done before the loop
    labels = labels.select("id", "comp")
    # Convergence = a round changed zero labels.  The changed flag is
    # exact for every id type (a sum over the labels themselves would be
    # NULL for string ids and can alias under overflow for long ones).
    # Each round eagerly local-checkpoints: the convergence read then
    # scans the checkpointed blocks, and — critically — the next round's
    # plan starts from a LogicalRDD, not from max_iterations stacked
    # join-aggregates (persist would cache data but let the plan double
    # per round: driver OOM rendering it long before 500 rounds).  The
    # superseded round's blocks are freed deterministically inside
    # local_checkpoint — executor storage holds at most two round tables.
    # The fused init already ran round 1 of the max_iterations budget.
    for _ in range(0 if converged else max_iterations - 1):
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("nbr_min"))
        )
        new_comp = F.least(
            F.col("comp_old"), F.coalesce(F.col("nbr_min"), F.col("comp_old"))
        )
        new_labels, handle = checkpoint(
            labels.withColumnRenamed("comp", "comp_old")
            .join(nbr_min, "id", "left")
            .select(
                "id",
                new_comp.alias("comp"),
                (new_comp != F.col("comp_old")).cast("long").alias("changed"),
            ),
            release=handle,
        )
        changed = new_labels.agg(F.sum("changed")).collect()[0][0] or 0
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        log.warning(
            f"connected_components: max_iterations={max_iterations} "
            "exhausted before convergence; labels may span unmerged "
            "components (raise max_iterations to at least the graph "
            "diameter)"
        )

    # Register the final checkpoint's HANDLE, not the DataFrame: the
    # blocks live outside the CacheManager, so DataFrame.unpersist() could
    # never free them (release_persisted would have been a silent no-op).
    track_checkpoint(handle)
    return labels.select("id", "comp")


def neardup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster near-dup pairs and mark the survivor of each cluster.

    Returns ``(id, comp, is_canonical, cluster_size)`` — ``is_canonical``
    is 1 for the minimum id of each component (the deterministic keeper),
    ``cluster_size`` counts the component's members.  The size join
    broadcasts when components are few; AQE decides (no hint — component
    count grows with data).
    """
    cc = connected_components(pairs, src, dst)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        "id",
        "comp",
        (F.col("id") == F.col("comp")).cast("long").alias("is_canonical"),
        "cluster_size",
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000_000,
    damping_pct: int = 85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank in FIXED-POINT integer arithmetic — bit-exact on every
    engine and under every partitioning.

    Float PageRank sums contributions in nondeterministic order, so two
    runs (or two engines) disagree at the ulp and a hash gate cannot
    hold.  Ranks here are integers scaled by ``scale``; each round is
        contrib = rank div out_degree          (integral division)
        rank'   = (1-d)·scale + (d·Σcontrib) div 100
    — sums of longs are exact and order-free, so the result is a pure
    function of (graph, iterations).  The deliberate cost: each
    division truncates, so ranks drift from the real-valued fixed
    point by O(iterations) ulp-of-scale — irrelevant for ranking, and
    the price of a verifiable result (the v75/v153 integral-state rule
    applied to an iterative algorithm).

    Nodes with no inbound edges keep only the teleport term; dangling
    nodes (no outbound) contribute nothing — callers wanting the
    redistributed-dangling-mass variant should add the uniform term
    themselves (our bipartite verification graph has none).

    Same scale skeleton as :func:`connected_components`: edges persist
    across rounds, each round's rank table is eagerly checkpointed
    (lineage truncation — the plan, not the data, is the 100x killer)
    and the superseded round's blocks are freed deterministically.

    Join strategy (round-13 rework, measured at 35M edges / 630k
    nodes): the edge table persists as bare (src, dst) PRE-PARTITIONED
    on dst, and the out-degree persists as its own O(nodes) table that
    joins the RANK side each round (630k⋈630k broadcast — pennies)
    instead of widening the 35M-row edge cache (the r12 shape paid an
    11.4 s setup for that fold: scan + sort-merge + wider cache).
    With dst-partitioning in place the per-round contribution
    ``groupBy(dst)`` reuses the cache's HashPartitioning — alias-aware
    through the project, preserved through the broadcast join — so a
    round is ONE zero-exchange scan-join-aggregate stage over the
    cached edges plus two O(nodes) jobs (broadcast build, checkpoint).
    Per-round partial-agg shuffles are gone entirely (they carried
    ~20M rows/round at 35M edges: ~|nodes|·|partitions| partials
    defeats map-side combine once nodes outgrow the per-partition row
    budget).  The rank table is O(nodes) and checkpoint-backed — a
    LogicalRDD with no stats, which Catalyst will never auto-broadcast
    — so the rank side is pinned as a broadcast, keeping every
    round's edge work map-side (measured 64 s → 17 s → 7.4 s across
    the r12 reworks at 1.2M edges, then 18.5 s → 11.4 s at 35M edges
    from this restructure — see BASELINE.md round-13).
    """
    spark = edges.sparkSession
    checkpoint = make_checkpointer(spark, checkpoint_dir)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Out-degree as its own O(nodes) table — one aggregation over the
    # edges, and the node set falls out of it for free (distinct src
    # IS deg's key), saving a second full-edge distinct.
    deg = persist_tracked(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    )
    nodes = deg.select(F.col("src").alias("node"))
    # Pre-partition the bare edge table on dst: each round's
    # contribution sum groups by dst, and with ~|nodes| distinct
    # keys per partition map-side combine barely reduces the
    # exchange (at 35M edges / 630k nodes the per-round shuffle
    # still carried ~20M partial rows).  One up-front shuffle
    # instead; the broadcast join and the alias-aware project both
    # preserve HashPartitioning(dst→node), so every round's
    # groupBy("node") is a zero-exchange partial+final agg in the
    # same stage as the cached edge scan.
    edges_p = persist_tracked(e.repartition(F.col("dst")))
    # Materialize BEFORE the first round plans against it: an
    # unmaterialized cached AQE plan reports unknown output
    # partitioning, so round 1 would re-add the
    # ENSURE_REQUIREMENTS exchange the repartition exists to
    # eliminate.  One cheap count (the shuffle runs once anyway).
    edges_p.count()
    teleport = (scale * (100 - damping_pct)) // 100
    ranks, handle = checkpoint(
        nodes.withColumn("rank", F.lit(scale).cast("long"))
    )
    for _ in range(iterations):
        # Fold degree into the RANK side (O(nodes)⋈O(nodes)), never
        # the edge side: per-source emission rate rank div d.
        rates = F.broadcast(
            ranks.join(F.broadcast(deg), ranks["node"] == deg["src"]).select(
                F.col("node").alias("u"),
                F.expr("rank div d").alias("c"),
            )
        )
        contrib = (
            edges_p.join(rates, edges_p["src"] == rates["u"])
            .select(F.col("dst").alias("node"), "c")
        )
        summed = F.broadcast(
            contrib.groupBy("node").agg(F.sum("c").alias("s"))
        )
        # left join keeps no-inbound nodes at the teleport term (s=0)
        new_ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("rank"),
        )
        # Checkpoint EVERY round: each broadcast exchange materializes
        # its rank subplan anyway, so an un-checkpointed prefix would
        # re-execute under every later broadcast build (measured 7.4 s →
        # 11.2 s at fixture scale with a checkpoint every third round,
        # BASELINE.md §v160).
        ranks, handle = checkpoint(new_ranks, release=handle)
    # Register the final checkpoint's HANDLE (the connected_components
    # rule): localCheckpoint blocks live outside the CacheManager, so
    # without this cache.release_persisted() silently leaks one O(nodes)
    # rank table per invocation for the session lifetime.
    track_checkpoint(handle)
    return ranks
