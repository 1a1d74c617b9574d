"""Streaming-constants ledger capture (VERDICT r12 task 6).

Runs v133 (dedup → stream-stream join → windowed agg, three chained
stateful operators) twice — warm-up then timed, the bench.py
convention — with ``run_available_now`` wrapped to dump each query's
per-trigger recentProgress JSON.  The wrap lives HERE, not in
``flowbyte_spark.streaming``, so the shared runner stays
uninstrumented: every streaming query drains through
``queries/streaming_q.py:_drain``, which looks ``run_available_now`` up
on the module at call time, so patching the module attribute reaches
it without touching product code.

BASELINE.md §Round-13 records the decomposition (per-trigger
durationMs legs + stateOperators commit times) and the per-trigger
budget derived from it.

Usage: python scripts/v133_stream_ledger.py [out_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import flowbyte_spark.streaming as streaming  # noqa: E402
from flowbyte_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        _REPO, ".tmp", "v133_progress"
    )
    os.makedirs(out_dir, exist_ok=True)

    def traced_run_available_now(writer) -> None:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        batches = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
        with open(
            os.path.join(out_dir, f"progress_{q.id}.json"), "w"
        ) as fh:
            # progress dicts carry UUID/timestamp objects — stringify
            json.dump(batches, fh, default=str)

    streaming.run_available_now = traced_run_available_now

    from flowbyte_spark.queries import QUERIES

    spark = get_spark(app_name="v133-stream-ledger")
    spark.sparkContext.setLogLevel("ERROR")
    fn = QUERIES["v133_stream_dedup_join_window"]
    fn(spark, "/root/testdata/sf0.1").collect()  # warm-up
    t0 = time.perf_counter()
    n = fn(spark, "/root/testdata/sf0.1").count()
    wall = time.perf_counter() - t0
    print(f"warm wall {wall:.2f} s rows {n}")

    latest = max(
        (os.path.join(out_dir, f) for f in os.listdir(out_dir)),
        key=os.path.getmtime,
    )
    batches = json.load(open(latest))
    keys: set[str] = set()
    for b in batches:
        keys |= set(b.get("durationMs", {}))
    tot = {k: sum(b["durationMs"].get(k, 0) for b in batches) for k in keys}
    print(f"triggers: {len(batches)}")
    print("durationMs totals:", dict(sorted(tot.items(), key=lambda kv: -kv[1])))
    agg: dict[str, dict[str, int]] = {}
    for b in batches:
        for s in b.get("stateOperators", []):
            a = agg.setdefault(
                s.get("operatorName"), {"commit": 0, "update": 0}
            )
            a["commit"] += s.get("commitTimeMs", 0)
            a["update"] += s.get("allUpdatesTimeMs", 0)
    for nm, d in agg.items():
        print(nm, d)


if __name__ == "__main__":
    main()
