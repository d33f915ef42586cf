"""Persisted perceptual-hash (dHash) band index: the image twin of the
text tier's MinHash band index (`operators.dedup.build_band_index`).

The reference pipeline has no image dedup at all
(/root/reference/dags/etl_pipeline.py covers tabular CSV/Excel only);
this is part of the engine's training-data-pipeline surface: a corpus
of image payloads is hashed ONCE (decode + 64-bit dHash, Arrow-batched
— `binary_ops.with_perceptual_hash`), split into four 16-bit bands, and
persisted bucketed by band value. Every subsequent batch probe
broadcasts its (band, band_val) keys against the bucketed layout — the
corpus is never re-decoded, never re-hashed, never shuffled. By
pigeonhole, any pair within Hamming distance 3 shares at least one
intact 16-bit band (the same blocking argument as
`binary_ops.near_dup_images`), so candidates come from band equi-joins
and are verified with one exact popcount on the two 8-byte hashes that
ride along in the collision rows.

100 TB shape: index rows are (id, phash, band, band_val) — 4 rows x
~32 bytes per image regardless of payload size; probes ship batch-sized
key sets (broadcast), the corpus side is a pruned bucket scan; appends
are one pass over the batch inserted into the bucketed layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BANDS = 4
_BAND_BITS = 16
_N_BUCKETS = 64


def dhash_bands(hashed: DataFrame, id_col: str = "id") -> DataFrame:
    """(id, phash, band, band_val) — the 64-bit hash split into four
    16-bit bands. ``hashed`` is `with_perceptual_hash` output (already
    filtered to ok=true rows)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("phash"), i * _BAND_BITS)
                .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                .alias("band_val"),
            )
            for i in range(_BANDS)
        ]
    )
    return hashed.select(
        F.col(id_col), "phash", F.explode(band_structs).alias("__b")
    ).select(
        id_col,
        "phash",
        F.col("__b.band").alias("band"),
        F.col("__b.band_val").alias("band_val"),
    )


def build_dhash_index(
    corpus: DataFrame,
    table: str,
    *,
    id_col: str = "id",
    binary_col: str = "payload",
) -> None:
    """Hash the image corpus once and persist its band rows bucketed by
    band_val. Undecodable payloads (codec-gated formats, junk) are
    excluded — they have no perceptual hash to collide on; route them
    upstream via the ok=false flag. Metadata persists alongside so
    probes and appends can never disagree with the build's geometry."""
    from etl_bigquery_pipeline_spark.multimodal import binary_ops
    from etl_bigquery_pipeline_spark.operators import band_index_core

    hashed = binary_ops.with_perceptual_hash(
        corpus, id_col=id_col, binary_col=binary_col
    ).filter(F.col("ok"))
    # bucket-aligned write + meta via band_index_core, the write path
    # all four persisted index families share
    band_index_core.write_band_index(
        dhash_bands(hashed, id_col),
        table,
        "band_val",
        {
            "bands": _BANDS,
            "band_bits": _BAND_BITS,
            "id_col": id_col,
            "binary_col": binary_col,
        },
        n_buckets=_N_BUCKETS,
    )


def near_dup_candidates_from_dhash_index(
    spark: SparkSession,
    batch_hashed: DataFrame,
    table: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup matches of a hashed batch against the persisted index:
    (batch_id, corpus_id, hamming), hamming <= ``max_hamming``.

    ``batch_hashed`` is `with_perceptual_hash` output filtered to ok
    rows (hash the batch ONCE and reuse for probe + append — decode is
    the dominant cost). The batch band keys broadcast; corpus work is
    the pruned bucket scan; the exact popcount verify runs on collision
    rows only. max_hamming > 3 weakens the pigeonhole guarantee over
    four 16-bit bands (a distance-4 pair can corrupt all four) — the
    same banded-recall trade as text LSH, kept at the guaranteed 3."""
    from etl_bigquery_pipeline_spark.operators import band_index_core

    meta = band_index_core.read_meta(spark, table)
    id_col = meta["id_col"]
    bands_b = dhash_bands(batch_hashed, id_col).select(
        F.col(id_col).alias("batch_id"),
        F.col("phash").alias("hb"),
        "band",
        "band_val",
    )
    collisions = band_index_core.probe_collisions(
        spark, bands_b, table, ["band_val", "band"]
    )
    return (
        collisions.select(
            F.col("b.batch_id").alias("batch_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
            F.col("b.hb").alias("hb"),
            F.col("c.phash").alias("ha"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("batch_id", "corpus_id", "hamming")
    )


def append_to_dhash_index(
    batch_hashed: DataFrame, table: str, *, recovery: bool = False
) -> None:
    """Insert a hashed batch's band rows into the bucketed layout —
    one pass over the batch, corpus untouched. The append resolves by
    POSITION; dhash_bands mirrors the build projection exactly.
    Id uniqueness across batches is the caller's contract.

    ``recovery=True`` (crash-recovery replays only — it costs one index
    scan) drops rows already present under (id, band, band_val) first,
    so re-running a batch whose previous attempt died between the index
    insert and its commit marker cannot duplicate index rows (r8 ADVICE:
    duplicates were benign for matching but inflated index row counts
    that the rehearsal asserts on)."""
    from etl_bigquery_pipeline_spark.operators import band_index_core

    spark = batch_hashed.sparkSession
    meta = band_index_core.read_meta(spark, table)
    band_index_core.append_band_rows(
        dhash_bands(batch_hashed, meta["id_col"]),
        table,
        "band_val",
        dedupe_on=[meta["id_col"], "band", "band_val"] if recovery else None,
    )
