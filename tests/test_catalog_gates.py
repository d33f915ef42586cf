"""Catalog gates checked against an independent reference (a serial
NumPy Lloyd run) and on degenerate inputs (zero-row tables)."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.plans import catalog
from etl_bigquery_pipeline_spark.plans.catalog_p4_breadth import (
    _LLOYD_ROUNDS,
    inertia_monotone,
    kmeans_inertia_history,
)
from etl_bigquery_pipeline_spark.sources.readers import read_table


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: the decimal string, HALF_UP."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _numpy_lloyd(vecs: np.ndarray, labels: np.ndarray, rounds: int) -> list[float]:
    """Serial Lloyd run with the gate's conventions: start from the
    per-label means, centroids rounded to 6 places, squared distances
    summed element by element in position order, ties to the smaller
    label; a label no vector picks drops out. Returns each round's
    inertia against that round's starting centroids."""

    def centroids(lab):
        ks = np.unique(lab)  # ascending
        c = [[_round6(v) for v in vecs[lab == k].mean(axis=0)] for k in ks]
        return ks, np.array(c)

    ks, c = centroids(labels)
    hist = []
    for _ in range(rounds):
        diff = vecs[:, None, :] - c[None, :, :]
        d2 = np.cumsum(diff * diff, axis=2)[:, :, -1]
        j = d2.argmin(axis=1)  # first minimum: the smallest label
        hist.append(float(d2[np.arange(len(vecs)), j].sum()))
        ks, c = centroids(ks[j])
    return hist


def test_kmeans_history_matches_serial_numpy_lloyd(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    rows = e.select("embedding", "label").collect()
    vecs = np.array([r.embedding for r in rows], dtype=np.float32).astype(np.float64)
    labels = np.array([r.label for r in rows])
    want = _numpy_lloyd(vecs, labels, rounds=_LLOYD_ROUNDS)

    got = kmeans_inertia_history(e).first()["hist"]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert abs(g - w) <= 1e-9 * abs(w), (got, want)
    assert got[-1] < got[0]  # the rounds did move the centroids


def test_inertia_verdict_is_evaluated_in_plan(spark):
    df = spark.range(1).select(
        F.array(F.lit(1.0), F.lit(2.0)).alias("up"),
        F.array(F.lit(3.0), F.lit(2.0), F.lit(2.0)).alias("down"),
        F.array(F.lit(5.0)).alias("one"),
    )
    row = df.select(
        *[inertia_monotone(F.col(c)).alias(c) for c in df.columns]
    ).first()
    assert (row.up, row.down, row.one) == (False, True, True)


def test_incremental_join_view_parity_on_empty_views(spark, sf_dir, tmp_path):
    """Zero-row orders and customer: both sums are NULL and must still
    compare equal (plain equality gave NULL)."""
    for t in ("orders", "customer"):
        src = read_table(spark, sf_dir, t)
        src.limit(0).write.parquet(os.path.join(tmp_path, f"{t}.parquet"))
    row = catalog.QUERIES["incremental_join_view_parity"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in row] == [(True, True)]
