from __future__ import annotations

import os

import pytest

# must run before any SparkSession exists: workers inherit PYTHONPATH at
# JVM launch (see tests/proto_compat.py — protobuf shim for the TWS test)
from tests.proto_compat import ensure_protobuf

ensure_protobuf()

# The whole suite runs with strict cache ownership: an operator calling
# scoped_cache outside a cache_scope raises (operators/caching.py) instead
# of silently parking the cache in the LRU registry. The autouse fixture
# below gives every test its own scope, so caches release per-test.
os.environ.setdefault("SPARK_GRAFT_STRICT_CACHE_SCOPE", "1")

from etl_bigquery_pipeline_spark.operators.caching import cache_scope
from etl_bigquery_pipeline_spark.session import get_session

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _test_cache_scope():
    with cache_scope():
        yield


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark-warehouse")
    # pinned to local[12] regardless of SPARK_GRAFT_CPUS: test data is
    # tiny (sf0.001), so per-action task scheduling dominates — the r12
    # A/B on test_operators+test_dq measured local[12] 143s vs
    # local[32] 179s vs local[8] 193s. The bench/driver contract is
    # unaffected (bench.py builds its own session from the env).
    s = get_session(
        "pytest",
        master="local[12]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture(scope="session")
def constructed_queries(spark):
    """One construction pass over the ENTIRE catalog at sf0.001, shared
    by every default-conf catalog-wide sweep (schema sweeps, plan
    lints): CONSTRUCTING a query is the expensive part — gates run
    eager jobs while building — and r11's suite paid it once per sweep
    (~100-170s each). Sweeps that need a non-default conf (the
    broadcast lint forces thresholds to -1) must construct their own.
    Construction failures are stored and attributed by the consuming
    test. Operator caches release when the fixture's cache_scope exits,
    before any consumer runs: consumers only read schemas/plans, so
    warmth is irrelevant, and the plans they inspect are UNCACHED (an
    operator-cached frame replans from its full lineage, not from an
    InMemoryRelation) — the plan lints check the uncached plans."""
    from etl_bigquery_pipeline_spark.plans import catalog

    out = {}
    with cache_scope():
        for name in sorted(catalog.QUERIES):
            try:
                out[name] = catalog.QUERIES[name](spark, SF0001)
            except Exception as exc:  # noqa: BLE001 — attribute, don't abort
                out[name] = exc
    return out
