"""Workload definitions: what each workload runs, and at which sizes.

Plain data, importable without Spark. ``README.md`` in this directory
explains why each workload exists and which layer it stresses.
"""

from __future__ import annotations

WORKLOADS = {
    # The source paper's flow: read -> transform -> load -> validate.
    # The only workload that writes; never touches plans.catalog.
    "etl_pipeline": {"queries": []},
    # Read-only scans, joins, aggregates and windows over the warehouse
    # tables; per-read schema inference, no Python workers, no writes.
    # Runnable for profiling, but not listed in BENCHMARK.json: the
    # regression check's time budget fits two workloads (README.md).
    "catalog_relational": {
        "queries": [
            "flagship_sales_rollup",
            "revenue_by_segment",
            "window_rank_parts",
            "orphan_lineitem_part",
            "cube_orders",
            "window_lag_running_orders",
            "sessionization",
            "dup_groups_lineitem_pk",
            "null_counts_orders",
        ],
    },
    # Corpus curation: a gate that runs its Lloyd iterations eagerly while
    # the plan is built (construction-heavy, cached intermediates), the
    # Arrow zlib UDF (Python workers) and a lazy document scorer.
    "catalog_curation": {
        "queries": [
            "kmeans_inertia_gate",
            "compression_ratio_quality",
            "quality_scores",
        ],
    },
}

# The end-to-end figures come from the first MEASURED_PASSES timed passes
# of a run (a run times at least that many, and more until --seconds are
# up). Pass cost still falls with every pass while the JIT warms up, so a
# fixed set of pass indices keeps a slow host from shifting the figures
# along that curve.
MEASURED_PASSES = 3

# "bench" is what BENCHMARK.json runs; "tiny" is the self-test's size.
SCALES = {
    "bench": {"sf": 0.01, "etl": {"sales_rows": 200_000, "products": 2_000, "files": 4}},
    "tiny": {"sf": 0.001, "etl": {"sales_rows": 20_000, "products": 200, "files": 2}},
}
