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
