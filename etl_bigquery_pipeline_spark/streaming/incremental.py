"""Incremental ETL: stream -> clean -> dedup -> parquet, exactly-once.

The streaming counterpart of plans/pipeline.py: the same transform
operators run inside foreachBatch, writing an append-only parquet table
partitioned by (batch_id, event_date). Checkpointing makes delivery
exactly-once at the batch level: an interrupted batch re-runs with the
same batch_id, and because each batch overwrites exactly its own
``batch_id=N`` subdirectory, the retry is idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.streaming import batch_commit


def incremental_events_sink(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
):
    """Start the incremental pipeline; returns the StreamingQuery.

    Inside each micro-batch: drop rows with null key/ts, exact-dedup on
    the key, stamp the event date, append partitioned parquet. At scale
    the partition column gives downstream scans day-level pruning and the
    per-batch file count stays bounded by the shuffle partitioning.
    """
    deduped = (
        events.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cleaned = (
            batch_df.na.drop("any", subset=[*key_cols, ts_col])
            .withColumn("event_date", F.col(ts_col).cast("date"))
        )
        # single sink: no multi-action recompute hazard here, but keep
        # the write one pass over the batch (no count/collect probes)
        # foreachBatch is at-least-once: a micro-batch replayed after a
        # failure re-runs write_batch with the SAME batch_id. Writing each
        # batch into its own hive-style batch_id=N directory with
        # mode=overwrite makes the retry idempotent — the replay replaces
        # exactly its own output, never duplicating rows. Readers of
        # ``out_path`` see batch_id and event_date as discovered partition
        # columns (day-level pruning still applies).
        (
            cleaned.write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(f"{out_path}/batch_id={batch_id}")
        )

    return batch_commit.start(deduped, write_batch, checkpoint)


def incremental_events_sink_with_dlq(
    events: DataFrame,
    out_path: str,
    dlq_path: str,
    checkpoint: str,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
    value_col: str = "value",
):
    """Incremental sink with a dead-letter queue: rows failing ingest
    validation (null key/timestamp, negative value) are ROUTED, not
    dropped — they land under ``dlq_path/batch_id=N`` with a
    ``reject_reason`` column while clean rows take the normal path.

    Silent drops are unaccountable at scale (a 0.1% malformed rate on
    100 TB is 100 GB of invisible loss); the DLQ keeps the rejects
    replayable after an upstream fix. Both sides inherit the batch_id
    overwrite idempotency, so a replayed batch rewrites exactly its own
    accepted AND rejected outputs.

    Validation runs BEFORE the watermark dedup and invalid rows are
    routed AROUND it: a null-ts row would otherwise be discarded by the
    stateful operator once the watermark advances (never reaching the
    DLQ), and distinct null-key rows would collapse to one before
    flagging. Consequence of bypassing the dedup: repeated invalid rows
    appear once per arrival in the DLQ — for an audit trail that is a
    feature, not a bug (every rejected arrival is accounted for).

    Cost shape (measured, scripts/streaming_rehearsal.py): the
    valid/invalid self-union reads each micro-batch's source files
    twice — one scan through the stateful dedup branch, one through the
    invalid branch. That is a property of the streaming plan (the two
    branches cannot share a scan across a stateful operator), bounded
    at 2x the batch volume and independent of history; the
    foreachBatch side is persisted so its two sinks add no further
    scans.
    """
    reason = (
        F.when(
            sum([F.col(c).isNull().cast("int") for c in key_cols]) > 0,
            F.lit("null_key"),
        )
        .when(F.col(ts_col).isNull(), F.lit("null_ts"))
        .when(F.col(value_col) < 0, F.lit("negative_value"))
    )
    flagged = events.withColumn("reject_reason", reason)
    valid = (
        flagged.filter(F.col("reject_reason").isNull())
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )
    invalid = flagged.filter(F.col("reject_reason").isNotNull())
    routed = valid.unionByName(invalid)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # two sinks consume the same micro-batch: persist it, or each
        # write re-executes the upstream stateful dedup + source scan
        # (the r7 streaming rehearsal measured 3 source scans per batch
        # without this — per-batch cost must track the batch once)
        batch_df = batch_df.persist()
        try:
            rejected = batch_df.filter(F.col("reject_reason").isNotNull())
            accepted = (
                batch_df.filter(F.col("reject_reason").isNull())
                .drop("reject_reason")
                .withColumn("event_date", F.col(ts_col).cast("date"))
            )
            (
                accepted.write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(f"{out_path}/batch_id={batch_id}")
            )
            rejected.write.mode("overwrite").parquet(
                f"{dlq_path}/batch_id={batch_id}"
            )
        finally:
            batch_df.unpersist()

    return batch_commit.start(routed, write_batch, checkpoint)
