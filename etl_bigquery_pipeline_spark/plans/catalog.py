"""Oracle-checked query catalog — the driver contract behind
__spark_entry__.py.

The queries live in the catalog_p* part modules and register into
``QUERIES``/``ORACLE`` (catalog_base) through the shared @query
decorator. This module imports the parts in registration order, which is
the driver's sample derivation input (pinned by
tests/test_oracle_parity.py), then moves the queries the driver has not
covered yet to the front. A part imports only library modules and
catalog_base: Spark techniques two parts share live in the library
(e.g. ``windows.exact_percentiles``, ``similarity.recall_ok``,
``functions.text.hex8_to_int``), and their DuckDB spellings, the
embedding panel and the oracle texts later queries extend live in
catalog_base.py, next to the determinism/aliasing rules all parts
follow.
"""

from __future__ import annotations

from etl_bigquery_pipeline_spark.plans import (
    catalog_p1_reference,
    catalog_p2_llm_core,
    catalog_p3_approx_gates,
    catalog_p4_breadth,
    catalog_p5_round4,
    catalog_p6_waves6_16,
    catalog_p7_waves17_45,
    catalog_p8_waves46_48,
    catalog_p9_wave53,
)
from etl_bigquery_pipeline_spark.plans.catalog_base import ORACLE, QUERIES

# each part registers its queries on import; this is their order
_PARTS = (
    catalog_p1_reference,
    catalog_p2_llm_core,
    catalog_p3_approx_gates,
    catalog_p4_breadth,
    catalog_p5_round4,
    catalog_p6_waves6_16,
    catalog_p7_waves17_45,
    catalog_p8_waves46_48,
    catalog_p9_wave53,
)

_DRIVER_COVERED_R02 = [
    "flagship_sales_rollup", "table_row_counts", "null_counts_orders",
    "dup_groups_lineitem_pk", "dup_groups_orderkey", "orphan_lineitem_part",
    "customers_without_orders", "range_lineitem", "range_part_price",
    "distinct_part_rows", "coercion_roundtrip", "split_packed_column",
    "clean_dropna", "topk_orders", "window_rank_parts",
    "set_except_customers", "revenue_by_segment", "rollup_region_nation",
    "dedup_exact_documents", "minhash_near_dup_pairs", "ngram_jaccard_pairs",
    "simhash_fingerprints", "similarity_topk", "embedding_near_dup_pairs",
    "token_stats_by_lang", "quality_scores", "doc_fingerprints",
    "json_extract_events", "events_tumbling_hourly", "events_sliding_1h_30m",
    "sessionization", "dq_report_lineitem", "set_intersect_union_nations",
    "cube_orders", "grouping_sets_orders", "semi_join_customers",
    "scalar_subquery_filter", "window_lag_running_orders",
    "pivot_event_counts", "unpivot_part_measures", "asof_join_error_signup",
    "range_join_signup_followups", "string_functions_part",
    "date_functions_orders", "math_functions_lineitem", "lang_id_confusion",
    "approx_distinct_orders", "lsh_cosine_topk", "array_functions_embeddings",
    "map_functions_events",
]

def _reorder_for_sweep() -> None:
    # registration order is part order, also when a caller imported a
    # part on its own (for a helper) before this module
    part = {m.__name__: i for i, m in enumerate(_PARTS)}
    registered = sorted(QUERIES, key=lambda n: part[QUERIES[n].__module__])
    covered = [n for n in _DRIVER_COVERED_R02 if n in QUERIES]
    # newest-registered first: the driver's sweep is budget-bounded, so
    # the queries with the least prior verification (this round's
    # additions register last) must land earliest in the walk
    uncovered = [n for n in reversed(registered) if n not in set(covered)]
    ordered = uncovered + covered
    for mapping in (QUERIES, ORACLE):
        snapshot = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(snapshot)


_reorder_for_sweep()
