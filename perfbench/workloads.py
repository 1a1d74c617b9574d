"""The workloads' operation lists.

``etl_compat`` is defined in perfbench/etl.py.  Each query workload is a
list of registered queries (``flowbyte_spark.queries.QUERIES``); the
workload seed orders all but the first.
"""

from __future__ import annotations

import random

WORKLOADS = ("etl_compat", "engine_queries")

# engine_queries mixes three families, so one run covers every engine
# layer: a TPC-H shape (plan building, catalog, Catalyst, scheduling),
# near-dup kernels (dedup, srp, components, cache) and streaming
# triggers (streaming; v76 also merges through operators.mutate once per
# micro-batch).  One query per kernel keeps a run within the time the
# benchmark has per run; each passes its oracle on the fixture.
QUERY_LISTS = {
    "engine_queries": [
        "v110_q8_market_share", "v64_neardup_clusters", "v100_srp_neardup",
        "v76_stream_upsert",
    ],
}


def query_order(workload: str, seed: int) -> list[str]:
    """The listed first query stays first: whichever query a session runs
    first also pays the session's JVM-wide warm-up (class loading, JIT of
    the planner), so that cost lands on the same query in every run.  The
    seed orders the rest."""
    first, *rest = QUERY_LISTS[workload]
    random.Random(seed).shuffle(rest)
    return [first, *rest]
