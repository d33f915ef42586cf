"""Incremental rollup maintenance: a streaming event feed keeps a daily
aggregate table current without ever recomputing history.

Classic incremental view maintenance, restricted to MERGEABLE aggregates
(sum, count, min, max — anything with an associative+commutative merge):
each micro-batch computes its own partial aggregate (map-side combined,
tiny result), which merges into the rollup table by key. Avg is carried
as (sum, count) and finalized at read time — never stored as a ratio, or
merges would be wrong.

Exactly-once: foreachBatch is at-least-once, so a blind `existing +
batch` merge would double-count a replayed batch. The merge is made
idempotent the same way the incremental event sink is — each batch's
partials land in the rollup keyed WITH the batch_id (overwriting its own
batch_id partition on replay), and the read view folds batches per day.
At scale both sides stay small: the rollup table holds one row per
(batch, key), pruned and merged by a grouped read — O(days x batches)
rows, nothing like event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.streaming import batch_commit


def rollup_merge_sink(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
):
    """Maintain per-(day, keys) partial aggregates from an event stream;
    returns the StreamingQuery. Read the result with ``read_rollup``."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.withColumn("day", F.col(ts_col).cast("date"))
            .groupBy("day", *key_cols)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col(value_col).cast("decimal(18,4)")).alias("value_sum"),
                F.min(value_col).alias("value_min"),
                F.max(value_col).alias("value_max"),
            )
        )
        # a replayed batch overwrites exactly its own partition — the
        # same idempotency device as incremental_events_sink
        partial.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return batch_commit.start(events, fold, checkpoint)


def read_rollup(
    spark: SparkSession,
    out_path: str,
    *,
    key_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Merge the per-batch partials into the final daily rollup. The
    grouped fold over (days x batches) partial rows is the entire cost of
    serving the view — event history is never rescanned."""
    parts = spark.read.parquet(out_path)
    return (
        parts.groupBy("day", *key_cols)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_sum").cast("double").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
    )


def cdc_rollup_merge_sink(
    changes: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    op_col: str = "op",
):
    """Retraction-aware incremental rollup: the CDC generalization of
    rollup_merge_sink. Input rows carry ``op`` ('insert' or 'delete');
    each micro-batch folds to SIGNED partials (delete => count -1, value
    -v), so the served view stays correct under retractions — the device
    that keeps an incrementally-maintained aggregate honest when source
    rows are removed or corrected (a correction is delete+insert).

    Only signed-mergeable aggregates survive retraction (count, sum);
    min/max are deliberately NOT offered here — a deleted extremum cannot
    be un-merged from a partial, it needs a rescan or a mergeable sketch.
    Same exactly-once batch_id=N overwrite idempotency as the insert-only
    sink; serve with ``read_cdc_rollup``.
    """

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sign = F.when(F.col(op_col) == "delete", F.lit(-1)).otherwise(
            F.lit(1)
        )
        partial = (
            batch_df.withColumn("day", F.col(ts_col).cast("date"))
            .withColumn("__s", sign)
            .groupBy("day", *key_cols)
            .agg(
                F.sum("__s").alias("n_events"),
                F.sum(
                    F.col("__s") * F.col(value_col).cast("decimal(18,4)")
                ).alias("value_sum"),
            )
        )
        partial.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return batch_commit.start(changes, fold, checkpoint)


def read_cdc_rollup(
    spark: SparkSession,
    out_path: str,
    *,
    key_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Serve the retraction-aware rollup: fold the signed partials and
    drop keys whose live row count reached zero (fully retracted)."""
    parts = spark.read.parquet(out_path)
    return (
        parts.groupBy("day", *key_cols)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_sum").cast("double").alias("value_sum"),
        )
        .filter(F.col("n_events") > 0)
    )
