"""State-store provider A/B for the chained-stateful tier (VERDICT r13
task 5).

The r13 streaming ledger decomposed v133's 1.218 s/trigger into
state-store commits (65-70%, HDFS-backed provider, ~126 ms/commit),
planning (~20%) and offset bookkeeping (~10%).  Spark ships
``RocksDBStateStoreProvider`` in-box (rocksdbjni rides the pyspark
jars) — this script runs the SAME v133 workload (dedup → stream-stream
join → windowed agg, 3 chained stateful operators) under both providers
and records walls + per-trigger state-operator commit/update totals, so
the default for the stateful tier is a measured choice, not a guess.

Protocol (contention-aware, the soak-script convention):
- one Spark session; the provider is a per-query conf picked up at
  stream start, flipped between blocks via ``spark.conf.set``;
- block order HDFS → RocksDB → HDFS: the repeated first block exposes
  in-process drift (JIT, page cache) so a provider delta is only
  trusted if it exceeds the HDFS↔HDFS spread;
- per block: one warm-up run + N timed runs (fresh scratch checkpoint
  per run — v133 builds its own), median reported;
- per-trigger recentProgress captured exactly as
  scripts/v133_stream_ledger.py does (patched ``run_available_now``,
  which ``queries/streaming_q.py:_drain`` looks up on the module at call
  time — instrumentation stays OUT of flowbyte_spark.streaming so the
  shared runner is not marked in-round-changed).

Usage: python scripts/v133_statestore_ab.py [runs_per_block]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import flowbyte_spark.streaming as streaming  # noqa: E402
from flowbyte_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HDFS = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

_PROGRESS: list[list[dict]] = []


def traced_run_available_now(writer) -> None:
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    _PROGRESS.append(
        [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
    )


def summarize(progress_runs: list[list[dict]]) -> dict:
    triggers = sum(len(b) for b in progress_runs)
    commit = update = 0
    dur: dict[str, int] = {}
    for batches in progress_runs:
        for b in batches:
            for k, v in b.get("durationMs", {}).items():
                dur[k] = dur.get(k, 0) + v
            for s in b.get("stateOperators", []):
                commit += s.get("commitTimeMs", 0)
                update += s.get("allUpdatesTimeMs", 0)
    return {
        "triggers": triggers,
        "state_commit_ms": commit,
        "state_update_ms": update,
        "durationMs": dict(sorted(dur.items(), key=lambda kv: -kv[1])),
    }


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2

    streaming.run_available_now = traced_run_available_now

    from flowbyte_spark.queries import QUERIES

    spark = get_spark(app_name="v133-statestore-ab")
    spark.sparkContext.setLogLevel("ERROR")
    fn = QUERIES["v133_stream_dedup_join_window"]

    results: list[tuple[str, str, float, dict]] = []
    for block, provider in (
        ("hdfs-1", HDFS),
        ("rocksdb", ROCKSDB),
        ("hdfs-2", HDFS),
    ):
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", provider
        )
        fn(spark, SF).collect()  # warm-up (also proves provider works)
        walls = []
        _PROGRESS.clear()
        for _ in range(runs):
            t0 = time.perf_counter()
            n = fn(spark, SF).count()
            walls.append(time.perf_counter() - t0)
        med = statistics.median(walls)
        summ = summarize(_PROGRESS)
        summ["rows"] = n
        results.append((block, provider.rsplit(".", 1)[1], med, summ))
        print(
            f"{block:8s} wall median {med:.2f} s over {runs} runs, "
            f"{summ['triggers']} triggers total, "
            f"state commit {summ['state_commit_ms']} ms, "
            f"update {summ['state_update_ms']} ms",
            flush=True,
        )
        print(f"  durationMs: {summ['durationMs']}", flush=True)

    out = os.path.join(_REPO, ".tmp", "v133_statestore_ab.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(
            [
                {
                    "block": b,
                    "provider": p,
                    "wall_median_s": w,
                    **s,
                }
                for b, p, w, s in results
            ],
            fh,
            indent=2,
            default=str,
        )
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
