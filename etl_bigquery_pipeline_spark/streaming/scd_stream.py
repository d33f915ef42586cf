"""Streaming SCD2: a CDC stream maintains dimension history.

The batch operator (operators/scd.scd2_apply) is a pure
``(current, updates) -> new state`` function, so the streaming form is
foreachBatch folding each micro-batch of change records into a
ParquetWarehouse table: read current state, apply, staging-swap rewrite.
Exactly-once at the batch level comes from two pieces composing:

- checkpointing replays an interrupted micro-batch with the SAME
  batch_id and the same data;
- ``scd2_apply`` is idempotent for a replayed batch — an update equal to
  the current version is a no-op by construction (the change detector
  compares values, not arrival), so re-applying a batch that already
  committed changes nothing.

Ordering: micro-batches arrive in source order, and each batch's
``effective_date`` is derived from the batch content (the max change
timestamp), not wall clock — a replay therefore produces the same dates.

Scale: state lives in the warehouse table, not in streaming state —
there is no watermark and no state store; each fold is the batch
operator's one broadcast join against the dimension plus a staging-swap
write (``ParquetWarehouse.rewrite`` — the new state's plan reads the
files being replaced, so it materializes to staging before the swap).
The bootstrap test is ``ParquetWarehouse.exists``, which first restores
a table parked by a swap that crashed between its two renames; a bare
directory test would take that table for missing and bootstrap over
its history.
For dimension-sized data (what SCD2 is for) that is the right cost;
event-scale history belongs to the append-only incremental sink instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.scd import scd2_apply, scd2_init
from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse
from etl_bigquery_pipeline_spark.streaming import batch_commit


def scd2_stream_sink(
    changes: DataFrame,
    warehouse: ParquetWarehouse,
    table: str,
    checkpoint: str,
    *,
    keys: list[str],
    change_ts_col: str = "change_ts",
):
    """Fold a CDC change stream into an SCD2 dimension table; returns the
    StreamingQuery. ``changes`` rows carry the full new attribute set per
    key plus ``change_ts_col``; the first batch bootstraps the table."""
    spark = changes.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        eff = batch_df.agg(
            F.max(F.col(change_ts_col).cast("date")).alias("d")
        ).first()["d"]
        # last change per key wins within a batch (CDC compaction),
        # deterministic via the change timestamp
        w = Window.partitionBy(*keys).orderBy(F.col(change_ts_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", change_ts_col)
        )
        if not warehouse.exists(table):
            warehouse.overwrite(
                scd2_init(latest, valid_from=F.lit(eff)), table
            )
            return
        current = warehouse.read(spark, table)
        new_state = scd2_apply(
            current, latest, keys, effective_date=F.lit(eff)
        )
        warehouse.rewrite(new_state, table)

    return batch_commit.start(changes, fold, checkpoint)
