"""Oracle differentials for the registry residue (round 13).

Round-13 audit: 24 registered queries had operator-level suites but NO
in-suite Spark-vs-DuckDB differential.  This file closes that gap:
every name below runs the same sorted-column row-multiset comparison
the driver applies, so EVERY registered query has a per-pytest-run
differential (tests/test_registry.py checks that statically).
"""

from __future__ import annotations

import pytest

from tests.oracle_util import assert_query_matches

RESIDUAL = [
    "v102_partition_pruning",
    "v103_dpp_star_join",
    "v105_runtime_filter_join",
    "v106_data_expectations",
    "v107_snapshot_diff",
    "v108_table_profile",
    "v112_bucketed_smb_join",
    "v113_null_aware_anti",
    "v114_correlated_max_order",
    "v115_profile_approx",
    "v32_streaming_window",
    "v41_session_window",
    "v42_cube",
    "v59_sliding_window",
    "v60_late_data_drop",
    "v73_stream_dedup",
    "v75_stateful_totals",
    "v76_stream_upsert",
    "v83_jdbc_roundtrip",
    "v84_media_decode",
    "v85_salted_window",
    "v86_salted_lag",
    "v87_pq_ann",
    "v96_salted_asof",
]


@pytest.mark.parametrize("name", RESIDUAL)
def test_residual_query_matches_oracle(spark, sf_dir, name):
    assert_query_matches(spark, name, sf_dir)


def test_every_registered_query_has_an_in_suite_differential():
    # The union of all oracle-test name lists must cover the registry,
    # so this hole cannot silently reopen when queries are added.
    import os
    import re

    from flowbyte_spark.queries import QUERIES

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    names: set[str] = set()
    for f in os.listdir(tests_dir):
        if "oracle" in f and f.endswith(".py") and f != "oracle_util.py":
            src = open(os.path.join(tests_dir, f)).read()
            names |= set(re.findall(r'"(v\d{2,}_\w+)"', src))
    missing = sorted(set(QUERIES) - names)
    assert not missing, (
        "registered queries with no in-suite oracle differential "
        f"(add them to a *_oracle.py list): {missing}"
    )
