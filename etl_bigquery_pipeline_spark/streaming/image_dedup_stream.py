"""Streaming image near-dup dedup against a persisted dHash band index —
the multimodal twin of `streaming/dedup_stream.py` (text tier). A
training-data pipeline runs both: documents probe the MinHash band
index, images probe the dHash band index, and both loops share the same
exactly-once discipline.

Per micro-batch work: decode + dHash ONCE per image (Arrow-batched;
the hashed frame persists for the batch's duration — a streaming
rehearsal measured ~5 source scans per micro-batch when each sink
recomputed its lineage), exact in-batch dedup on payload md5, one
broadcast probe of the batch's band keys against the bucketed index,
and one append pass for the novel hashes. Nothing scales with corpus
size; payload bytes never shuffle for the probe (only 8-byte hashes +
band keys move).

Routing: undecodable payloads (codec-gated, junk) -> ``reject_dir``
(they have no perceptual hash to dedup on — the DLQ discipline);
near-dups of the corpus -> ``dup_dir`` with (id, corpus_id, hamming)
evidence; novel images -> ``out_dir`` AND their bands append to the
index, so a near-copy arriving in a LATER batch collides with them.

Exactly-once: the parquet outputs overwrite their own `batch_id=N`
directories, and the batch runs under
`streaming/batch_commit.once_per_batch`, like the text dedup stream. A
replay of a crashed batch excludes the batch's own ids from the probe
(the crashed attempt may already have indexed them, and every novel
image would match itself at hamming 0) and appends in recovery mode,
which anti-joins the batch's band rows against the index first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.streaming import batch_commit


def incremental_image_dedup_sink(
    images: DataFrame,
    index_table: str,
    checkpoint: str,
    out_dir: str,
    dup_dir: str,
    reject_dir: str,
    *,
    max_hamming: int = 3,
    id_col: str = "id",
    binary_col: str = "payload",
):
    """Start the image-dedup stream; returns the StreamingQuery.

    ``index_table`` must exist (`multimodal.dhash_index.build_dhash_index`
    owns the band geometry). Novel images -> ``out_dir/batch_id=N``
    (full payload rows); corpus near-dups -> ``dup_dir/batch_id=N`` as
    (id, corpus_id, hamming); undecodable -> ``reject_dir/batch_id=N``.
    """
    from etl_bigquery_pipeline_spark.multimodal import binary_ops, dhash_index

    def apply(batch_df: DataFrame, batch_id: int, recovery: bool) -> None:
        spark = batch_df.sparkSession
        # exact in-batch dedup first: identical payloads collapse to the
        # smallest id (deterministic), so re-uploads inside one batch
        # neither probe twice nor enter the index twice
        batch = (
            batch_df.withColumn("__md5", F.md5(F.col(binary_col)))
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("__md5").orderBy(F.col(id_col))
                ),
            )
            .filter(F.col("__rk") == 1)
            .drop("__md5", "__rk")
            .persist()
        )
        hashed = binary_ops.with_perceptual_hash(
            batch, id_col=id_col, binary_col=binary_col
        ).persist()  # decode+dHash once; probe AND append reuse it
        ok_hashes = hashed.filter(F.col("ok")).select(id_col, "phash")
        matches = dhash_index.near_dup_candidates_from_dhash_index(
            spark, ok_hashes, index_table, max_hamming=max_hamming
        )
        if recovery:
            # the crashed attempt may already have indexed this batch's
            # novel images; ids are globally unique, so a corpus_id in
            # the batch id set can only be that insert
            matches = matches.join(
                batch.select(F.col(id_col).alias("corpus_id")),
                "corpus_id",
                "left_anti",
            )
        # one image can collide with many corpus images: keep the
        # closest match (tie -> smallest corpus id) as evidence,
        # route the image once
        best = (
            matches.groupBy("batch_id")
            .agg(F.min(F.struct("hamming", "corpus_id")).alias("m"))
            .select(
                F.col("batch_id").alias(id_col),
                F.col("m.corpus_id").alias("corpus_id"),
                F.col("m.hamming").alias("hamming"),
            )
        ).persist()
        try:
            best.write.mode("overwrite").parquet(
                os.path.join(dup_dir, f"batch_id={batch_id}")
            )
            rejects = batch.join(
                hashed.filter(~F.col("ok")).select(id_col), id_col, "semi"
            )
            rejects.write.mode("overwrite").parquet(
                os.path.join(reject_dir, f"batch_id={batch_id}")
            )
            novel = (
                batch.join(hashed.filter(~F.col("ok")).select(id_col),
                           id_col, "left_anti")
                .join(best.select(id_col), id_col, "left_anti")
            )
            novel.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )
            # novel hashes become corpus for every later batch; read the
            # novel ids back from the committed output (replay-stable)
            novel_ids = spark.read.parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            ).select(id_col)
            dhash_index.append_to_dhash_index(
                ok_hashes.join(novel_ids, id_col, "semi"),
                index_table,
                recovery=recovery,
            )
        finally:
            batch.unpersist()
            hashed.unpersist()
            best.unpersist()

    return batch_commit.start(
        images, batch_commit.once_per_batch(checkpoint, apply), checkpoint
    )
