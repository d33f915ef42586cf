"""Streaming ANN index maintenance: an embedding feed keeps a persisted
LSH index current — the serving loop a production vector store runs
(new documents embed upstream, land here, and become searchable within
one micro-batch).

Each micro-batch appends into the bucketed index via
``ann_index.append_to_lsh_index`` (bucket codes from the PERSISTED hash
parameters, one pass over the batch, pruning intact — see that module).
The append is not idempotent, so it runs under
``streaming/batch_commit.once_per_batch``: a replayed batch is skipped
once committed, and a replay of a crashed batch appends in recovery mode
(anti-join on the vector id), so the index never holds a row twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_bigquery_pipeline_spark.streaming import batch_commit


def incremental_ann_sink(
    vectors: DataFrame,
    table: str,
    checkpoint: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Start the index-maintenance stream; returns the StreamingQuery.

    ``table`` must already exist (``ann_index.build_lsh_index`` — the
    one-time build owns the hash parameters). Id uniqueness across the
    feed is the caller's contract, exactly as for the batch append.
    """
    from etl_bigquery_pipeline_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    def apply(batch_df: DataFrame, batch_id: int, recovery: bool) -> None:
        append_to_lsh_index(
            batch_df, table, id_col=id_col, vec_col=vec_col,
            recovery=recovery,
        )

    return batch_commit.start(
        vectors, batch_commit.once_per_batch(checkpoint, apply), checkpoint
    )
