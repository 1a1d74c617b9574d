"""Unit tests for the round-2 pipeline operators: connected components,
SCD2 history merge, repetition signals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flowbyte_spark.operators import cache
from flowbyte_spark.operators.components import (
    connected_components,
    neardup_clusters,
)
from flowbyte_spark.operators.merge import scd2_apply
from flowbyte_spark.operators.text import repetition_signals
from tests.test_tier_a_operators import _jobs_launched


def _pairs(spark, edges):
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def _labels(df):
    return {r["id"]: r["comp"] for r in df.collect()}


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def test_chain_collapses_to_one_component(spark):
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4)])
    assert _labels(connected_components(pairs)) == {1: 1, 2: 1, 3: 1, 4: 1}
    cache.release_persisted()


def test_disjoint_components_stay_apart(spark):
    pairs = _pairs(spark, [(1, 2), (10, 11), (11, 12)])
    got = _labels(connected_components(pairs))
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}
    cache.release_persisted()


def test_string_ids_converge(spark):
    # ADVICE round 2: the old sum('comp') convergence test was NULL for
    # string ids and exited after one round with wrong labels.
    pairs = _pairs(spark, [("b", "c"), ("a", "b"), ("x", "y")])
    got = _labels(connected_components(pairs))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    cache.release_persisted()


def test_label_many_rounds_lineage_stays_flat(spark):
    # VERDICT r3 #7: per-round persist let the logical plan stack one
    # join-aggregate per round — fine for 3-round dup graphs, driver death
    # for long chains.  A 30-node path needs ~30 label rounds under a
    # 500-round budget; correct labels prove convergence, and the final
    # plan must hang off a checkpointed LogicalRDD, not 30 stacked joins.
    import contextlib
    import io

    n = 30
    pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    cc = connected_components(pairs, max_iterations=500)
    assert _labels(cc) == {i: 0 for i in range(n)}

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cc.explain(extended=True)
    plan = buf.getvalue()
    assert "LogicalRDD" in plan  # lineage truncated at the checkpoint
    assert len(plan) < 20_000  # not one subtree per round
    cache.release_persisted()


def test_max_iterations_cutoff_returns_labels(spark, capsys):
    # One round cannot collapse a 6-chain; the cutoff must still return a
    # complete (possibly unconverged) labeling, one label per node.
    pairs = _pairs(spark, [(i, i + 1) for i in range(5)])
    got = _labels(connected_components(pairs, max_iterations=1))
    assert set(got) == set(range(6))
    err = capsys.readouterr().err
    assert "max_iterations=1" in err and "two-phase" not in err
    cache.release_persisted()


def test_checkpoint_blocks_freed_deterministically(spark):
    # Superseded round checkpoints must be freed as the loop advances (not
    # when GC eventually runs), and release_persisted must free the FINAL
    # checkpoint too — its blocks live outside the CacheManager, where
    # DataFrame.unpersist() can't reach them.
    sc = spark.sparkContext

    def ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = ids()
    n = 12  # ~12 label rounds: every superseded round must be gone
    pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    cc = connected_components(pairs, max_iterations=50)
    assert _labels(cc) == {i: 0 for i in range(n)}
    resident = ids() - before
    assert len(resident) <= 3, f"round blocks piled up: {sorted(resident)}"
    cache.release_persisted()
    assert ids() <= before


def test_release_persisted_frees_round_caches(spark):
    df = connected_components(_pairs(spark, [(1, 2), (2, 3)]))
    df.count()  # materialize before release
    assert cache.release_persisted() >= 2  # edges + final labels


def test_max_iterations_below_one_rejected(spark):
    pairs = _pairs(spark, [(1, 2)])

    def rejected(bad):
        with pytest.raises(ValueError, match="max_iterations must be >= 1"):
            connected_components(pairs, max_iterations=bad)

    # rejected before the edge cache or any round job is planned
    assert _jobs_launched(spark, lambda: [rejected(0), rejected(-1)]) == 0


def test_repetition_signals_rejects_output_name_collision(spark):
    # ADVICE r4: keep_cols colliding with the OUTPUT columns produced a
    # duplicate-named DataFrame that failed only on downstream reference.
    df = spark.createDataFrame(
        [("a", "x y z", 1.0)], ["doc_id", "text", "dup_word_frac"]
    )
    with pytest.raises(ValueError, match="reserved"):
        repetition_signals(df, keep_cols=("dup_word_frac",))


def test_checkpoint_excludes_lazy_input_caches(spark):
    # ADVICE r4 (medium): the old registry-DIFF accounting captured any
    # lazy input cache that materialized inside the checkpoint call, so
    # round 1's release freed the edge-list cache and every later round
    # re-scanned and re-shuffled it.  Accounting is now exact (the
    # LogicalRDD id) — a lazy cache materializing inside the call must
    # NOT land in the handle, and releasing the handle must leave the
    # cache resident.
    sc = spark.sparkContext
    inp = spark.range(1000).withColumn("x", F.col("id") % 7).persist()
    try:
        before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        out, handle = cache.local_checkpoint(inp.groupBy("x").count())
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        assert len(handle.rdd_ids) == 1
        # the input cache DID materialize inside the call...
        assert len(after - before) == 2, "input cache not lazy? test is vacuous"
        # ...but the handle owns only the checkpoint's RDD
        cache_ids = (after - before) - set(handle.rdd_ids)
        handle.unpersist()
        assert handle.released
        now = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        assert cache_ids <= now, "input cache was freed with the checkpoint"
        assert not set(handle.rdd_ids)
    finally:
        inp.unpersist()


def test_reliable_checkpoint_dir_rounds(spark, tmp_path):
    # VERDICT r4 #3: with checkpoint_dir set, rounds go through reliable
    # checkpoints (files that survive executor loss) with the same
    # deterministic release accounting: superseded rounds are deleted as
    # the loop advances and release_persisted removes the final one.
    import os

    ckdir = str(tmp_path / "ck")
    pairs = _pairs(spark, [(i, i + 1) for i in range(7)])
    got = _labels(
        connected_components(pairs, checkpoint_dir=ckdir)
    )
    assert got == {i: 0 for i in range(8)}

    def rdd_dirs():
        found = []
        for root, dirs, _files in os.walk(ckdir):
            found += [d for d in dirs if d.startswith("rdd-")]
        return found

    # at most the final round's files are resident mid-flight: every
    # superseded round was deleted as the next one materialized
    assert len(rdd_dirs()) <= 1, rdd_dirs()
    cache.release_persisted()
    assert rdd_dirs() == []


def test_neardup_clusters_survivor_flags(spark):
    rows = {
        r["id"]: r
        for r in neardup_clusters(_pairs(spark, [(1, 2), (2, 3), (7, 8)]))
        .collect()
    }
    assert rows[1]["is_canonical"] == 1 and rows[1]["cluster_size"] == 3
    assert rows[2]["is_canonical"] == 0 and rows[2]["comp"] == 1
    assert rows[7]["is_canonical"] == 1 and rows[7]["cluster_size"] == 2
    cache.release_persisted()


# ---------------------------------------------------------------------------
# SCD2 merge
# ---------------------------------------------------------------------------

def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k INT, seg STRING, valid_from STRING, valid_to STRING, is_current BOOLEAN"
    )


def _upd(spark, rows):
    return spark.createDataFrame(rows, "k INT, seg STRING")


def _hist(df):
    # None-safe sort key: seg / valid_to can be NULL, and Python refuses
    # None-vs-str comparisons — sort Nones last per position instead.
    return sorted(
        (
            (r["k"], r["seg"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in df.collect()
        ),
        key=lambda t: tuple((v is None, v if v is not None else "") for v in t),
    )


def test_scd2_noop_update_leaves_history_untouched(spark):
    t = _dim(spark, [(1, "A", "2020-01-01", None, True)])
    out = scd2_apply(t, _upd(spark, [(1, "A")]), ["k"], ["seg"], "2024-01-01")
    assert _hist(out) == [(1, "A", "2020-01-01", None, True)]


def test_scd2_change_closes_and_versions(spark):
    t = _dim(spark, [(1, "A", "2020-01-01", None, True)])
    out = scd2_apply(t, _upd(spark, [(1, "B")]), ["k"], ["seg"], "2024-01-01")
    assert _hist(out) == [
        (1, "A", "2020-01-01", "2024-01-01", False),
        (1, "B", "2024-01-01", None, True),
    ]


def test_scd2_explicit_null_is_a_change(spark):
    # null-safe detector: A -> NULL must version, NULL -> NULL must not
    t = _dim(
        spark,
        [(1, "A", "2020-01-01", None, True), (2, None, "2020-01-01", None, True)],
    )
    out = scd2_apply(
        t, _upd(spark, [(1, None), (2, None)]), ["k"], ["seg"], "2024-01-01"
    )
    assert _hist(out) == [
        (1, "A", "2020-01-01", "2024-01-01", False),
        (1, None, "2024-01-01", None, True),
        (2, None, "2020-01-01", None, True),
    ]


def test_scd2_new_key_inserted_as_first_version(spark):
    t = _dim(spark, [(1, "A", "2020-01-01", None, True)])
    out = scd2_apply(t, _upd(spark, [(9, "Z")]), ["k"], ["seg"], "2024-01-01")
    assert _hist(out) == [
        (1, "A", "2020-01-01", None, True),
        (9, "Z", "2024-01-01", None, True),
    ]


def test_scd2_two_batches_then_idempotent(spark):
    t = _dim(spark, [(1, "A", "2020-01-01", None, True)])
    t1 = scd2_apply(t, _upd(spark, [(1, "B")]), ["k"], ["seg"], "2023-01-01")
    t2 = scd2_apply(t1, _upd(spark, [(1, "C")]), ["k"], ["seg"], "2024-01-01")
    assert _hist(t2) == [
        (1, "A", "2020-01-01", "2023-01-01", False),
        (1, "B", "2023-01-01", "2024-01-01", False),
        (1, "C", "2024-01-01", None, True),
    ]
    # re-applying the last batch is a no-op (change detector sees equal)
    t3 = scd2_apply(t2, _upd(spark, [(1, "C")]), ["k"], ["seg"], "2025-01-01")
    assert _hist(t3) == _hist(t2)


def test_scd2_null_key_versions_like_any_other(spark):
    # Round-15 measure/key-NULL sweep: the struct-wrapped join key makes
    # a NULL business key version null-safely.  With raw-key joins the
    # NULL-key update could never close its current row AND always
    # re-inserted a first version — two current rows for one member.
    t = _dim(spark, [(None, "A", "2020-01-01", None, True)])
    out = scd2_apply(t, _upd(spark, [(None, "B")]), ["k"], ["seg"], "2024-01-01")
    assert _hist(out) == [
        (None, "A", "2020-01-01", "2024-01-01", False),
        (None, "B", "2024-01-01", None, True),
    ]
    # and a no-op NULL-key update stays a no-op
    out2 = scd2_apply(t, _upd(spark, [(None, "A")]), ["k"], ["seg"], "2024-01-01")
    assert _hist(out2) == [(None, "A", "2020-01-01", None, True)]


def test_scd2_rejects_reserved_column(spark):
    t = _dim(spark, [(1, "A", "2020-01-01", None, True)]).withColumn(
        "__jk__", F.lit(1)
    )
    with pytest.raises(ValueError, match="__jk__"):
        scd2_apply(t, _upd(spark, [(1, "B")]), ["k"], ["seg"], "2024-01-01")


def test_scd2_duplicate_keys_in_batch_raise(spark):
    t = _dim(spark, [(1, "A", "2020-01-01", None, True)])
    dup = _upd(spark, [(1, "B"), (1, "C")])
    with pytest.raises(ValueError, match="one batch = one version"):
        scd2_apply(t, dup, ["k"], ["seg"], "2024-01-01")
    # opt-out path still works for callers that pre-collapse
    out = scd2_apply(
        t, _upd(spark, [(1, "B")]), ["k"], ["seg"], "2024-01-01",
        validate_keys=False,
    )
    assert len(_hist(out)) == 2


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------

def test_repetition_signals_shapes(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),   # all same word
            (2, "one"),                   # <2 words: excluded
            (3, "all words fully unique"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in repetition_signals(docs).collect()}
    assert set(rows) == {1, 3}  # doc 2 dropped
    # doc 1: 4 words, 1 distinct -> dup 3/4; all 3 bigrams identical -> 1.0
    assert rows[1]["dup_word_frac"] == pytest.approx(0.75)
    assert rows[1]["top_bigram_frac"] == pytest.approx(1.0)
    # doc 3: no repeats, 3 distinct bigrams of 3 -> 1/3 (q4-quantized)
    assert rows[3]["dup_word_frac"] == pytest.approx(0.0)
    assert rows[3]["top_bigram_frac"] == pytest.approx(0.3333)


def test_temperature_mixture(spark):
    from flowbyte_spark.catalog import load_table
    from flowbyte_spark.operators.split import (
        temperature_mixture_rates,
        temperature_mixture_sample,
    )

    SF = "/root/testdata/sf0.01"

    # rate math: alpha=1 keeps natural proportions (uniform rate across
    # sources); alpha=0 asks the same row count from every source
    counts = {"web": 8000, "books": 1000, "code": 1000}
    r1 = temperature_mixture_rates(counts, 1.0, 5000)
    assert all(abs(v - 0.5) < 1e-9 for v in r1.values())
    r0 = temperature_mixture_rates(counts, 0.0, 3000)
    assert abs(r0["web"] - 1000 / 8000) < 1e-9
    assert abs(r0["books"] - 1.0) < 1e-9  # capped: target == size
    # alpha between: small sources up-weighted vs natural
    rh = temperature_mixture_rates(counts, 0.5, 5000)
    assert rh["books"] > r1["books"] and rh["web"] < 0.5
    assert temperature_mixture_rates({"a": 0}, 0.5, 10) == {"a": 0.0}

    docs = load_table(spark, SF, "documents")
    out = temperature_mixture_sample(docs, "doc_id", "source", 0.5, 200)
    n = out.count()
    assert 140 <= n <= 260, n  # binomial tolerance around the budget
    # deterministic + append-stable: a re-run over a superset keeps
    # exactly the originally sampled rows
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    again = {
        r.doc_id
        for r in temperature_mixture_sample(
            docs, "doc_id", "source", 0.5, 200
        ).select("doc_id").collect()
    }
    assert ids == again
