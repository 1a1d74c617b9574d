"""Tests: salted join / two-phase agg equivalence, stateful streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.operators.skew import salted_join, two_phase_agg, with_salt

SF = "/root/testdata/sf0.001"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    plain = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    )
    salted = salted_join(
        orders,
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        ["o_custkey"],
        buckets=4,
    )
    assert rows(plain) == rows(salted)


def test_salted_join_left_outer(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    # dimension missing some keys -> unmatched rows must survive exactly once
    dim = (
        load_table(spark, SF, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    plain = orders.join(dim, "o_custkey", "left")
    salted = salted_join(orders, dim, ["o_custkey"], buckets=4, how="left")
    assert rows(plain) == rows(salted)


def test_salted_join_semi_anti_and_rejected_modes(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    dim = (
        load_table(spark, SF, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    for how in ("left_semi", "left_anti"):
        plain = orders.join(dim, "o_custkey", how)
        salted = salted_join(orders, dim, ["o_custkey"], buckets=4, how=how)
        assert rows(plain) == rows(salted), how
    # right/full would emit each unmatched replicated row `buckets` times
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(orders, dim, ["o_custkey"], buckets=4, how=how)


def test_salt_is_deterministic(spark):
    df = load_table(spark, SF, "orders")
    a = with_salt(df, 8).select("o_orderkey", "__salt__")
    b = with_salt(df, 8).select("o_orderkey", "__salt__")
    assert rows(a) == rows(b)
    salts = {r["__salt__"] for r in a.collect()}
    assert salts <= set(range(8)) and len(salts) > 1


def test_two_phase_agg_equals_plain_agg(spark):
    li = load_table(spark, SF, "lineitem")
    plain = rows(
        li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )
    two = rows(
        two_phase_agg(
            li,
            ["l_returnflag"],
            partial_aggs=[
                F.count(F.lit(1)).alias("pc"),
                F.sum("l_quantity").alias("pq"),
            ],
            final_aggs=[
                F.sum("pc").alias("cnt"),
                F.round(F.sum("pq"), 2).alias("qty"),
            ],
        )
    )
    assert plain == two


def test_two_phase_agg_null_measures_match_plain_agg(spark):
    # Round-15 measure-NULL sweep: the partial/final split must keep SQL
    # NULL semantics — an all-NULL group's SUM/MIN/MAX stay NULL through
    # the two phases (an all-NULL salt-bucket partial is NULL; the final
    # F.sum/least/greatest SKIP null partials, which is exactly right
    # BECAUSE a null partial means "contributed no non-null values").
    # lineitem has no NULL measures, so the fixture test above can never
    # catch this.
    df = spark.createDataFrame(
        [
            (0, 1.0), (0, None), (0, 3.0),  # mixed group
            (1, None), (1, None),           # all-NULL group
            (2, -2.0),                      # singleton
        ],
        "k int, v double",
    )
    plain = rows(
        df.groupBy("k").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("v").alias("nn"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )
    two = rows(
        two_phase_agg(
            df,
            ["k"],
            partial_aggs=[
                F.count(F.lit(1)).alias("pc"),
                F.count("v").alias("pn"),
                F.sum("v").alias("ps"),
                F.min("v").alias("pmn"),
                F.max("v").alias("pmx"),
            ],
            final_aggs=[
                F.sum("pc").alias("cnt"),
                F.sum("pn").alias("nn"),
                F.sum("ps").alias("s"),
                F.min("pmn").alias("mn"),
                F.max("pmx").alias("mx"),
            ],
            buckets=4,
        )
    )
    assert plain == two


# ---------------------------------------------------------------------------
# applyInPandasWithState
# ---------------------------------------------------------------------------


def test_running_user_totals_accumulates_across_batches(spark, tmp_path):
    import shutil

    from flowbyte_spark.streaming import read_event_stream
    from flowbyte_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "events")
    load_table(spark, SF, "events").repartition(3).write.parquet(src)

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    out: dict[int, list] = {}

    def write(batch_df, batch_id):
        out[batch_id] = batch_df.collect()

    q = (
        running_user_totals(stream, watermark="365 days")
        .writeStream.foreachBatch(write)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(src, ignore_errors=True)

    assert len(out) >= 2, "expected multiple micro-batches"
    # final state per user == batch aggregation over all events
    last_state: dict[int, tuple] = {}
    for bid in sorted(out):
        for r in out[bid]:
            last_state[r.user_id] = (r.cnt, r.total)
    expected = {
        r.user_id: (r.cnt, r.total)
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .collect()
    }
    assert set(last_state) == set(expected)
    for uid in expected:
        assert last_state[uid][0] == expected[uid][0], uid
        # running float sum rounded per batch: allow cent-level drift
        assert abs(last_state[uid][1] - expected[uid][1]) < 0.05, uid

def test_running_totals_null_values_follow_sql_sum(spark, tmp_path):
    # Round-15 measure-NULL sweep (the incremental-agg fix's streaming
    # twin): pandas .sum() over an all-NaN series is 0.0 where SQL SUM
    # is NULL, and the exact variant's astype("int64") RAISED on any
    # NaN-bearing batch.  Users: 1 = mixed NULL/real across two
    # batches, 2 = all-NULL (total must be NULL), 3 = NULL first batch,
    # real value second (must come back from NULL).
    import datetime as dt
    import shutil

    from flowbyte_spark.streaming import read_event_stream
    from flowbyte_spark.streaming.stateful import (
        running_user_totals,
        running_user_totals_exact,
    )

    t0 = dt.datetime(2024, 1, 1)
    b1 = [(1, 1, t0, "e", 2.5, "{}"), (2, 2, t0, "e", None, "{}"),
          (3, 3, t0, "e", None, "{}")]
    b2 = [(4, 1, t0, "e", None, "{}"), (5, 2, t0, "e", None, "{}"),
          (6, 3, t0, "e", 4.0, "{}")]
    schema = ("event_id long, user_id long, ts timestamp, "
              "event_type string, value double, props string")
    src = str(tmp_path / "events")
    import glob as _glob
    import os as _os

    for i, rows_ in enumerate([b1, b2]):
        spark.createDataFrame(rows_, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in _glob.glob(src + "/*.parquet"):
            _os.utime(f, (1700000000.0 + 100 * i,) * 2)

    for variant, name in [
        (running_user_totals, "float"),
        (running_user_totals_exact, "exact"),
    ]:
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        last: dict[int, tuple] = {}

        def write(batch_df, batch_id):
            for r in batch_df.collect():
                last[r.user_id] = (r.cnt, r.total)

        q = (
            variant(stream, watermark="365 days")
            .writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert last[1] == (2, 2.5), (name, last)   # NULL joins later, sum keeps
        assert last[2] == (2, None), (name, last)  # all-NULL -> NULL, not 0.0
        assert last[3] == (2, 4.0), (name, last)   # back from NULL
    shutil.rmtree(src, ignore_errors=True)


def test_stateful_max_keys_guard_trips(spark, tmp_path):
    """VERDICT r5 defect 3: the key-cardinality brake lives on the
    OPERATOR now — a direct caller with an unbounded key domain fails
    loudly instead of silently degrading O(keys) per batch."""
    import shutil

    import pytest

    from flowbyte_spark.streaming import read_event_stream
    from flowbyte_spark.streaming.stateful import running_user_totals_exact

    src = str(tmp_path / "events_guard")
    load_table(spark, SF, "events").repartition(2).write.parquet(src)
    n_users = load_table(spark, SF, "events").select("user_id").distinct().count()
    assert n_users > 10

    # one state partition -> one worker sees every key -> guard must trip
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        stream = read_event_stream(spark, src, max_files_per_trigger=2)
        q = (
            running_user_totals_exact(stream, watermark="365 days", max_keys=10)
            .writeStream.foreachBatch(lambda df, bid: df.count())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_guard"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="max_keys=10"):
            q.awaitTermination()
            raise AssertionError("guard did not trip")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_max_keys_waiver_and_default(spark, tmp_path):
    """max_keys=None waives the guard; the bounded default passes for a
    small key domain (v75's oracle path is unchanged)."""
    import shutil

    from flowbyte_spark.streaming import read_event_stream
    from flowbyte_spark.streaming.stateful import running_user_totals_exact

    src = str(tmp_path / "events_ok")
    load_table(spark, SF, "events").where(F.col("user_id") < 5).repartition(
        2
    ).write.parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=2)
    seen: list = []
    q = (
        running_user_totals_exact(stream, watermark="365 days", max_keys=None)
        .writeStream.foreachBatch(lambda df, bid: seen.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ok"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(src, ignore_errors=True)
    assert {r.user_id for r in seen} == {0, 1, 2, 3, 4}


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_plan_builds(spark, tmp_path):
    """The Spark-4 StatefulProcessor path: plan construction (analysis,
    state schema, output schema) must work everywhere; EXECUTION needs
    google.protobuf in the workers (absent in this sandbox) and runs in
    the gated test below."""
    from flowbyte_spark.streaming import read_event_stream
    from flowbyte_spark.streaming.stateful import running_user_totals_tws

    src = str(tmp_path / "events_tws")
    load_table(spark, SF, "events").repartition(2).write.parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=2)
    df = running_user_totals_tws(stream)
    assert [f.name for f in df.schema.fields] == ["user_id", "cnt", "total"]
    assert df.isStreaming


class _KeyedValueState:
    """transformWithState's value state, scoped to the current grouping
    key; like Spark's, it rejects a tuple of the wrong arity."""

    def __init__(self, schema: str):
        self.arity, self.values, self.key = len(schema.split(",")), {}, None

    def exists(self):
        return self.key in self.values

    def get(self):
        return self.values[self.key]

    def update(self, value):
        assert len(value) == self.arity, value
        self.values[self.key] = tuple(value)


def test_transform_with_state_processor_folds_like_the_exact_machine():
    """No Spark job: the StatefulProcessor stores the 3-field exact state
    and emits what running_user_totals_exact's update function emits on
    the same batches, NULL values and an all-NULL user included."""
    from collections import defaultdict
    from types import SimpleNamespace

    import pandas as pd

    from flowbyte_spark.streaming.stateful import (
        RunningTotalsProcessor,
        _update_user_exact,
    )

    def group_state():  # applyInPandasWithState's: exists/get are properties
        gs = SimpleNamespace(exists=False, get=None)
        gs.update = lambda v: vars(gs).update(exists=True, get=v)
        return gs

    handle = SimpleNamespace(
        getValueState=lambda name, schema: vars(handle).setdefault(
            "state", _KeyedValueState(schema)
        )
    )
    proc = RunningTotalsProcessor(max_keys=None)
    proc.init(handle)
    group_states = defaultdict(group_state)
    last = {}
    # user 1 gets a NULL in its second batch; user 2 is all-NULL
    batches = [{1: [1.25, 2.5], 2: [None]}, {1: [None, 0.1], 2: [None], 3: [4.0]}]
    for batch in batches:
        for uid, values in batch.items():
            pdf = pd.DataFrame({"user_id": uid, "value": values}, dtype=float)
            handle.state.key = (uid,)
            (got,) = proc.handleInputRows((uid,), iter([pdf]), None)
            (want,) = _update_user_exact(
                (uid,), iter([pdf]), group_states[uid], "fake", None
            )
            pd.testing.assert_frame_equal(got, want)
            last[uid] = (got.cnt[0], got.total[0])
    assert last == {1: (4, 3.85), 2: (2, None), 3: (1, 4.0)}
    assert handle.state.values == {(u,): gs.get for u, gs in group_states.items()}


@pytest.mark.skipif(not _has_protobuf(), reason="no google.protobuf in sandbox")
def test_transform_with_state_matches_apply_in_pandas(spark, tmp_path):
    """Where protobuf exists: the transformWithState machine must emit
    the same final per-user totals as running_user_totals_exact."""
    import shutil

    from flowbyte_spark.streaming import read_event_stream, scoped_sql_conf
    from flowbyte_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        running_user_totals_tws,
    )

    src = str(tmp_path / "events_tws2")
    load_table(spark, SF, "events").where(F.col("user_id") < 20).repartition(
        2
    ).write.parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    out: dict[int, tuple] = {}

    def write(batch_df, batch_id):
        for r in batch_df.collect():
            out[r.user_id] = (r.cnt, r.total)

    with scoped_sql_conf(
        spark,
        **{"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER},
    ):
        q = (
            running_user_totals_tws(stream)
            .writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(src, ignore_errors=True)
    expected = {
        r.user_id: (r.cnt, float(r.total))
        for r in load_table(spark, SF, "events")
        .where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total"
            ),
        )
        .collect()
    }
    assert out == expected
