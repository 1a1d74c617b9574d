"""Oracle-differential tests for the V78+ LLM-pipeline queries."""

from __future__ import annotations

import pytest

from tests.oracle_util import assert_query_matches

LLM2 = [
    "v78_paragraph_dedup",
    "v79_c4_quality_filter",
    "v80_exact_substrings",
    "v81_stream_stream_join",
    "v82_python_datasource",
    "v88_variant_json",
    "v90_q21_waiting_suppliers",
    "v91_lateral_topk",
    "v92_recursive_cte",
    "v93_xml_extract",
    "v94_salted_join",
    "v95_two_phase_agg",
    "v97_jpeg_decode",
    "v98_wav_decode",
    "v99_y4m_decode",
    "v89_asof_forward",
    "v100_srp_neardup",
    "v101_url_dedup",
    "v104_srp_cluster_dedup",
    "v116_q22_idle_customers",
    "v117_batched_ann",
    "v118_incremental_agg",
    "v119_stream_outer_join",
    "v120_skewed_join_agg",
    "v121_bloom_filter_join",
    "v122_sparse_cosine_pairs",
    "v123_schema_evolution",
    "v124_incremental_minmax",
    "v125_stream_session_window",
    "v126_schema_widening",
    "v127_prefix_cosine_pairs",
    "v128_q17_small_quantity",
    "v129_doc_chunking",
    "v130_stream_full_outer_join",
    "v131_bucketed_agg",
    "v132_stream_join_window",
    "v133_stream_dedup_join_window",
    "v134_cbo_join_order",
    "v135_incremental_minmax_pruned",
    "v136_frequent_terms_sketch",
    "v137_incremental_distinct_hll",
    "v138_q2_min_cost_supplier",
    "v139_q13_order_distribution",
    "v140_q20_excess_shippers",
    "v141_q19_disjunctive_revenue",
    "v142_q15_top_supplier",
    "v143_q16_supplier_count",
    "v144_q11_important_parts",
    "v145_q14_promo_share",
    "v146_incremental_topk",
    "v147_q4_priority_check",
    "v148_q5_local_volume",
    "v149_q6_forecast_revenue",
    "v150_q9_product_profit",
    "v151_q10_returned_items",
    "v152_q12_ship_priority",
    "v153_incremental_variance",
    "v154_gapfill_locf",
    "v155_interval_range_window",
    "v156_width_bucket_histogram",
    "v157_funnel_analysis",
    "v158_cohort_retention",
    "v159_stream_topk",
    "v160_pagerank",
]


@pytest.mark.parametrize("name", LLM2)
def test_llm2_query_matches_oracle(spark, sf_dir, name):
    assert_query_matches(spark, name, sf_dir)
