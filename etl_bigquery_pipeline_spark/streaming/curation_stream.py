"""Continuous corpus curation: the full ingest loop run as a stream.

Per micro-batch, in order (each stage bounded by the batch, never the
corpus):

1. exact in-batch dedup (content-hash groupBy on the batch),
2. near-dup probe of the persisted MinHash band index — matches route to
   the duplicates sink with their strongest-match evidence
   (`streaming/dedup_stream.best_corpus_matches`),
3. learned quality filter — scores from PRE-TRAINED logistic-regression
   weights (operators/quality_model.py; training is a batch job, its
   weights are four floats embedded as literals here) — low scorers
   route to a rejects sink with their score,
4. survivors land in the curated output AND their bands append to the
   index, so near-copies arriving later dedupe against them.

Exactly-once: the parquet outputs overwrite their own `batch_id=N`
directories, and the batch runs under
`streaming/batch_commit.once_per_batch`, like the dedup stream: a replay
of a crashed batch probes without the batch's own ids and appends in
recovery mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.streaming import batch_commit
from etl_bigquery_pipeline_spark.streaming.dedup_stream import (
    best_corpus_matches,
)


def curation_sink(
    docs: DataFrame,
    index_table: str,
    checkpoint: str,
    out_dir: str,
    dup_dir: str,
    reject_dir: str,
    *,
    quality_weights: list[float],
    quality_threshold: float = 0.3,
    dup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start the curation stream; returns the StreamingQuery.

    ``index_table`` must exist (`dedup.build_band_index`);
    ``quality_weights`` come from a prior `quality_model.train_logreg`
    run (weights are the model — no state crosses batches except the
    band index itself).
    """
    from etl_bigquery_pipeline_spark.operators import dedup, quality_model

    def apply(batch_df: DataFrame, batch_id: int, recovery: bool) -> None:
        spark = batch_df.sparkSession
        # three sinks share the batch/verdict/score lineages: persist
        # them, or each write re-executes the exact-dedup + index probe
        # + scoring from the source
        batch = dedup.dedup_exact_text(batch_df, id_col, text_col).persist()
        best = best_corpus_matches(
            batch, index_table, threshold=dup_threshold, recovery=recovery,
            id_col=id_col, text_col=text_col,
        ).persist()
        fresh = batch.join(best.select(id_col), id_col, "left_anti")

        feats = quality_model.doc_features(
            fresh.withColumn("n_chars", F.length(text_col))
            if "n_chars" not in fresh.columns
            else fresh
        )
        scored = quality_model.score_documents(feats, quality_weights).persist()
        try:
            best.write.mode("overwrite").parquet(
                os.path.join(dup_dir, f"batch_id={batch_id}")
            )
            rejects = fresh.join(
                scored.filter(F.col("score") < quality_threshold).select(
                    id_col, "score"
                ),
                id_col,
            )
            rejects.write.mode("overwrite").parquet(
                os.path.join(reject_dir, f"batch_id={batch_id}")
            )
            curated = fresh.join(
                scored.filter(F.col("score") >= quality_threshold).select(
                    id_col
                ),
                id_col,
            )
            out_path = os.path.join(out_dir, f"batch_id={batch_id}")
            curated.write.mode("overwrite").parquet(out_path)
        finally:
            batch.unpersist()
            best.unpersist()
            scored.unpersist()
        dedup.append_to_band_index(
            spark.read.parquet(out_path),
            index_table,
            id_col=id_col,
            text_col=text_col,
            recovery=recovery,
        )

    return batch_commit.start(
        docs, batch_commit.once_per_batch(checkpoint, apply), checkpoint
    )
