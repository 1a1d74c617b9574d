"""Property-based check for connected components (SURVEY.md §5.2 style):
random edge lists vs a pure-Python union-find oracle.

Round 3 shipped a CC whose bug only surfaced on a graph SHAPE (long
path) no hand-written case covered.  Hypothesis draws arbitrary shapes —
chains, stars, cliques, disjoint mixes — and min-label propagation must
agree with union-find on every one.  Example counts stay small
(each CC run is several Spark jobs); shape diversity is the point.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flowbyte_spark.operators import cache
from flowbyte_spark.operators.components import connected_components

pytestmark = pytest.mark.filterwarnings("ignore")

# Node ids drawn from a small pool force dense/overlapping components;
# the pool is bigger than any edge list, so isolated-ish fragments and
# multi-component mixes both occur.
edge_strategy = st.lists(
    st.tuples(st.integers(0, 19), st.integers(0, 19)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=12,
)

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find_labels(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id in the component (the operator's
    # documented contract), so labels compare exactly, not just partition
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    return {n: min(ms) for r, ms in members.items() for n in ms}


@given(edges=edge_strategy)
@SETTINGS
def test_components_match_union_find(spark, edges):
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == _union_find_labels(edges)
    cache.release_persisted()
