"""Structured Streaming tests: deterministic micro-batches from the fixture
events table, asserted against batch twins (SURVEY.md §5.2)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from flowbyte_spark.catalog import load_table
from flowbyte_spark.streaming import (
    dedup_within_watermark,
    foreach_batch_sink,
    read_event_stream,
    run_available_now,
    session_window_agg,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def event_files(spark, tmp_path):
    """Events split into 4 parquet files -> 4 deterministic micro-batches."""
    path = str(tmp_path / "events_stream")
    load_table(spark, SF, "events").repartition(4).write.parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _drain(stream_df, tmp_path, name, mode="update"):
    out: dict[int, list] = {}

    def write(batch_df, batch_id):
        out[batch_id] = batch_df.collect()

    writer = foreach_batch_sink(
        stream_df,
        write,
        checkpoint=str(tmp_path / f"ckpt_{name}"),
        output_mode=mode,
    )
    run_available_now(writer)
    return out


def test_tumbling_window_matches_batch_twin(spark, event_files, tmp_path):
    stream = read_event_stream(spark, event_files)
    batches = _drain(
        tumbling_window_agg(stream, "1 hour", watermark="30 days"),
        tmp_path,
        "tumbling",
        mode="complete",
    )
    # last complete-mode batch == full batch aggregation over the same files
    final = {
        (r.hour_ts, r.event_type): (r.cnt, r.sum_value)
        for r in batches[max(batches)]
    }
    batch_twin = (
        spark.read.parquet(event_files)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "cnt",
        )
    )
    expected = {(r.hour_ts, r.event_type): r.cnt for r in batch_twin.collect()}
    assert set(final) == set(expected)
    assert all(final[k][0] == expected[k] for k in expected)


def test_sliding_window_emits_overlapping_windows(spark, event_files, tmp_path):
    stream = read_event_stream(spark, event_files)
    batches = _drain(
        tumbling_window_agg(stream, "2 hours", watermark="30 days", slide="1 hour"),
        tmp_path,
        "sliding",
        mode="complete",
    )
    rows = batches[max(batches)]
    # every event lands in exactly 2 overlapping windows
    total_events = spark.read.parquet(event_files).count()
    assert sum(r.cnt for r in rows) == 2 * total_events


def test_session_window_closes_on_gap(spark, event_files, tmp_path):
    stream = read_event_stream(spark, event_files)
    batches = _drain(
        session_window_agg(stream, gap="30 minutes", watermark="30 days"),
        tmp_path,
        "session",
        mode="complete",
    )
    rows = batches[max(batches)]
    assert rows, "session windows should be produced"
    # sessions per user never overlap and respect the gap
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for sessions in by_user.values():
        sessions.sort()
        for (s1, e1), (s2, _) in zip(sessions, sessions[1:]):
            assert e1 <= s2  # closed before the next starts
    # total events preserved
    assert sum(r.n_events for r in rows) == spark.read.parquet(event_files).count()


def test_dedup_within_watermark_drops_replays(spark, event_files, tmp_path):
    # replay the same files twice through one stream -> dup event_ids
    dup_path = str(tmp_path / "dup_events")
    df = spark.read.parquet(event_files)
    df.unionByName(df).repartition(6).write.parquet(dup_path)
    stream = read_event_stream(spark, dup_path, max_files_per_trigger=6)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="365 days")
    batches = _drain(deduped, tmp_path, "dedup", mode="append")
    seen = [r.event_id for b in batches.values() for r in b]
    assert len(seen) == len(set(seen)), "dedup must not emit an id twice"
    assert set(seen) == {r.event_id for r in df.collect()}


@pytest.mark.parametrize(
    "name",
    ["v32_streaming_window", "v59_sliding_window", "v60_late_data_drop", "v73_stream_dedup", "v75_stateful_totals", "v76_stream_upsert"],
)
def test_streaming_query_matches_oracle(spark, sf_dir, name):
    from tests.oracle_util import assert_query_matches

    assert_query_matches(spark, name, sf_dir)


def test_post_batch_hook_failure_does_not_kill_stream(spark, event_files, tmp_path):
    stream = read_event_stream(spark, event_files)
    calls = []

    def bad_hook(batch_id):
        calls.append(batch_id)
        raise RuntimeError("refresh endpoint down")

    writer = foreach_batch_sink(
        tumbling_window_agg(stream, "1 hour", watermark="30 days"),
        lambda df, bid: df.count(),
        post_batch_hook=bad_hook,
        checkpoint=str(tmp_path / "ckpt_hook"),
    )
    run_available_now(writer)  # must not raise
    assert calls, "hook should have been invoked per micro-batch"


def test_drain_deletes_its_checkpoint_when_the_run_fails(spark, event_files):
    import glob
    import os

    from flowbyte_spark.queries.streaming_q import _drain
    from flowbyte_spark.queries.tier_a import _SCRATCH

    def write(batch_df, batch_id):
        raise RuntimeError("sink unavailable")

    stream = read_event_stream(spark, event_files)
    with pytest.raises(Exception, match="sink unavailable"):
        _drain(stream, "drain_failing", "append", write)
    assert glob.glob(os.path.join(_SCRATCH, "drain_failing_ckpt_*")) == []


def test_drain_to_parquet_triggers_through_the_module(spark, event_files, monkeypatch):
    # a wrapper patched onto the module attribute must see every trigger
    import flowbyte_spark.streaming as streaming
    from flowbyte_spark.queries.streaming_q import _drain_to_parquet

    calls = []
    run = streaming.run_available_now

    def counting(writer):
        calls.append(writer)
        run(writer)

    monkeypatch.setattr(streaming, "run_available_now", counting)
    agg = tumbling_window_agg(
        read_event_stream(spark, event_files), "1 hour", watermark="30 days"
    )
    got = _drain_to_parquet(agg, "drain_complete", "complete")
    assert len(calls) == 1
    twin = tumbling_window_agg(
        spark.read.parquet(event_files), "1 hour", watermark="30 days"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, twin.collect()))
