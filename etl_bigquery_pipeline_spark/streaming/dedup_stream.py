"""Streaming near-dup dedup against a persisted corpus: the daily-ingest
loop run continuously. A document feed probes the persisted MinHash band
index (`dedup.build_band_index`) per micro-batch; near-dups of the
corpus route to a duplicates sink with their match evidence, novel
documents land in the curated output AND their bands append to the index
— so a near-copy arriving in a LATER batch collides with them.

Per micro-batch work: exact in-batch dedup (content-hash groupBy on the
batch only), one broadcast probe of the batch's band keys against the
bucketed index (pruned scan — corpus never re-tokenizes or shuffles,
see `dedup.near_dup_candidates_from_index`), and one pass to append the
novel bands. Nothing scales with corpus size. ``best_corpus_matches`` is
the probe-and-route step; `streaming/curation_stream.py` shares it.

Exactly-once: the parquet outputs overwrite their own `batch_id=N`
directories, and the band-index append runs under
`streaming/batch_commit.once_per_batch`. A replay of a crashed batch
appends in recovery mode and excludes the batch's own ids from the
probe, so docs the crashed attempt already indexed do not match
themselves.

Within-batch NEAR-dups (beyond exact) are not collapsed here — both
copies probe the corpus independently and, if novel, both enter the
index; the periodic batch compaction (`minhash_cluster_canonicals`)
owns that, keeping the streaming path one-pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.streaming import batch_commit


def best_corpus_matches(
    batch: DataFrame,
    index_table: str,
    *,
    threshold: float,
    recovery: bool,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, corpus_id, est_jaccard): each batch doc's strongest corpus
    near-dup at ``est_jaccard >= threshold``; docs without one are absent.

    ``recovery`` drops matches whose corpus_id is one of the batch's own
    ids. A crashed attempt may already have appended the batch's novel
    docs, which would then match themselves (est_jaccard 1.0). Ids are
    globally unique, so such a corpus_id can only be that insert.
    """
    from etl_bigquery_pipeline_spark.operators import dedup

    cands = dedup.near_dup_candidates_from_index(
        batch.sparkSession, batch, index_table, id_col=id_col,
        text_col=text_col,
    )
    if recovery:
        cands = cands.join(
            batch.select(F.col(id_col).alias("corpus_id")),
            "corpus_id",
            "left_anti",
        )
    # one id can collide with many corpus docs: keep the strongest
    # match as evidence, route the doc once
    return (
        cands.filter(F.col("est_jaccard") >= threshold)
        .groupBy("batch_id")
        .agg(F.max(F.struct("est_jaccard", "corpus_id")).alias("m"))
        .select(
            F.col("batch_id").alias(id_col),
            F.col("m.corpus_id").alias("corpus_id"),
            F.col("m.est_jaccard").alias("est_jaccard"),
        )
    )


def incremental_dedup_sink(
    docs: DataFrame,
    index_table: str,
    checkpoint: str,
    out_dir: str,
    dup_dir: str,
    *,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start the dedup stream; returns the StreamingQuery.

    ``index_table`` must exist (`dedup.build_band_index` owns the hash
    parameters). Novel docs -> ``out_dir/batch_id=N``; corpus near-dups
    -> ``dup_dir/batch_id=N`` as (id, corpus_id, est_jaccard).
    """
    from etl_bigquery_pipeline_spark.operators import dedup

    def apply(batch_df: DataFrame, batch_id: int, recovery: bool) -> None:
        spark = batch_df.sparkSession
        # persist the deduped batch and the match verdicts: the two
        # writes below would otherwise each recompute the whole batch
        # lineage from the source (a streaming rehearsal measured ~5
        # source scans per micro-batch without this) — per-batch cost
        # must track the batch ONCE, not once per sink
        batch = dedup.dedup_exact_text(batch_df, id_col, text_col).persist()
        best = best_corpus_matches(
            batch, index_table, threshold=threshold, recovery=recovery,
            id_col=id_col, text_col=text_col,
        ).persist()
        out_path = os.path.join(out_dir, f"batch_id={batch_id}")
        try:
            best.write.mode("overwrite").parquet(
                os.path.join(dup_dir, f"batch_id={batch_id}")
            )
            novel = batch.join(best.select(id_col), id_col, "left_anti")
            novel.write.mode("overwrite").parquet(out_path)
        finally:
            batch.unpersist()
            best.unpersist()
        # novel docs become part of the corpus for every later batch
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
