"""Streaming heavy hitters: maintain per-key counts from an event stream
and serve exact top-k from the maintained table.

The same incremental-view-maintenance device as rollup_stream: COUNT is
mergeable, so each micro-batch contributes a tiny per-key partial (map-
side combined), written idempotently under its own ``batch_id=N``
directory — a replayed batch overwrites exactly its own partials, never
double-counting. Serving folds (batches x keys) partial rows and runs
the TakeOrdered top-k from operators/skew — event history is never
rescanned, and the maintained table is bounded by key cardinality x
batches, not event volume. Compact it with layout.compact_small_files
when batch count grows.

This is the exact complement to the count-min-sketch gate
(plans/catalog.cms_heavy_hitter_gate): CMS gives fixed memory with
overestimates; this gives exact counts at the cost of materializing the
key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.skew import heavy_hitters_from_counts
from etl_bigquery_pipeline_spark.streaming import batch_commit


def key_counts_sink(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    key_cols: tuple[str, ...] = ("user_id",),
):
    """Maintain per-key event counts from a stream; returns the
    StreamingQuery. Serve with ``read_top_k``."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n")
        )
        partial.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return batch_commit.start(events, fold, checkpoint)


def read_top_k(
    spark: SparkSession,
    out_path: str,
    *,
    key_cols: tuple[str, ...] = ("user_id",),
    k: int = 20,
) -> DataFrame:
    """Exact top-k over the maintained counts: one grouped fold of the
    per-batch partials, then TakeOrdered with share/cum-share."""
    merged = (
        spark.read.parquet(out_path)
        .groupBy(*key_cols)
        .agg(F.sum("n").alias("n"))
    )
    return heavy_hitters_from_counts(merged, list(key_cols), "n", k=k)
