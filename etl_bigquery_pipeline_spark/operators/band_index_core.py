"""Shared mechanics of the persisted indexes.

Four index families persist rows bucketed by a key column and keep their
build parameters in a one-row ``<table>__meta`` JSON table:

- text tier: MinHash bands over shingles (`operators.dedup.build_band_index`);
- image tier: dHash bands (`multimodal.dhash_index`);
- embedding LSH: hyperplane sign-pattern buckets
  (`operators.ann_index.build_lsh_index`);
- embedding IVF: nearest trained-centroid cells
  (`operators.ann_index.build_ivf_index`).

All four write, append and reset their tables through this module; the
family modules keep only what makes them different (the key they hash,
the payload they carry, how they probe). Probes ship batch-sized key sets
(broadcast), so the corpus side is a pruned bucket scan; appends are one
pass over the batch into the bucketed layout with a positional
insertInto — the corpus is never re-hashed, never shuffled.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.localrel import literal_frame

N_BUCKETS = 64
META_SUFFIX = "__meta"


def looks_like_table_dir(fs: "object", path: "object") -> bool:
    """True when the directory carries Spark table artifacts (a _SUCCESS
    commit marker or part-* data files) — the only shape reset_table is
    allowed to delete. An unrelated directory that merely shares the
    table's name never matches."""
    if fs.getFileStatus(path).isFile():
        return False
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name == "_SUCCESS" or name.startswith("part-"):
            return True
    return False


def reset_table(spark: SparkSession, table: str) -> None:
    """Drop the catalog entry AND any orphaned warehouse directory.

    With the default in-memory catalog, table registrations die with the
    session while their files persist in spark.sql.warehouse.dir — a
    rebuild in a fresh session would then fail with
    LOCATION_ALREADY_EXISTS. The Hadoop FS API handles any filesystem
    (local, HDFS, object stores).

    Deletion is guarded two ways: only the *stale-orphan* case touches the
    filesystem (a directory left behind when no catalog entry existed —
    if the catalog knew the table, DROP TABLE already owned its managed
    location), and the directory must actually look like a Spark table
    (commit marker / part files), so a colliding unrelated directory or an
    external-location table is never destroyed."""
    existed_in_catalog = spark.catalog.tableExists(table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if existed_in_catalog:
        return  # managed location handled by DROP; external data is not ours
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if not wh:
        return
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        wh.rstrip("/") + "/" + table.lower()
    )
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path) and looks_like_table_dir(fs, path):
        fs.delete(path, True)


def write_meta(spark: SparkSession, table: str, meta: dict) -> None:
    """Persist ``meta`` as the one-row JSON table ``<table>__meta``."""
    reset_table(spark, table + META_SUFFIX)
    literal_frame(spark, [(json.dumps(meta),)], "meta string").write.mode(
        "overwrite"
    ).saveAsTable(table + META_SUFFIX)


def read_meta(
    spark: SparkSession, table: str, kind: str | None = None, *, reader: str = ""
) -> dict:
    """The index's build metadata. With ``kind`` set, an index built as
    another kind raises ValueError (``reader`` names the caller and what
    it does, e.g. "probe_lsh_index probes") instead of failing later on a
    missing meta key."""
    meta = json.loads(spark.table(table + META_SUFFIX).first().meta)
    if kind is not None and meta.get("kind") != kind:
        raise ValueError(
            f"{table!r} is a {meta.get('kind')!r} index; {reader}"
            f" {kind.upper()} indexes only"
        )
    return meta


def write_band_index(
    rows: DataFrame,
    table: str,
    bucket_col: str,
    meta: dict,
    *,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Persist band rows bucketed by ``bucket_col`` + the build metadata.

    Repartitions on the bucket column (the same Murmur3 hash bucketBy
    uses) so each write task owns exactly one bucket — without it every
    upstream partition sorts and writes slices of all buckets (measured
    2x slower at bench scale, file count grows with upstream parallelism
    instead of staying == n_buckets). Metadata persists alongside so
    probes and appends can never disagree with the build's geometry.
    """
    spark = rows.sparkSession
    reset_table(spark, table)
    (
        rows.repartition(n_buckets, bucket_col)
        .write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .saveAsTable(table)
    )
    write_meta(spark, table, meta)


def probe_collisions(
    spark: SparkSession,
    batch_rows: DataFrame,
    table: str,
    on_cols: list[str],
    *,
    index_filter=None,
) -> DataFrame:
    """Band-collision join: broadcast the batch's band rows against the
    bucketed index on ``on_cols``. Returns the joined frame with the
    index side aliased ``c`` and the batch side ``b`` — callers select
    and verify (exact Jaccard / popcount) downstream. Per-probe work
    scales with the batch and its collisions, never the corpus.

    ``index_filter`` (optional, DataFrame -> DataFrame) runs on the
    index scan before the join — e.g. the text tier's hot-bucket cap.
    """
    idx = spark.table(table)
    if index_filter is not None:
        idx = index_filter(idx)
    cond = None
    for c in on_cols:
        piece = F.col(f"c.{c}") == F.col(f"b.{c}")
        cond = piece if cond is None else (cond & piece)
    return idx.alias("c").join(F.broadcast(batch_rows.alias("b")), cond)


def append_band_rows(
    rows: DataFrame,
    table: str,
    bucket_col: str,
    *,
    dedupe_on: list[str] | None = None,
) -> None:
    """Insert a batch's band rows into the bucketed layout — one pass
    over the batch, corpus untouched. insertInto resolves by POSITION;
    the caller's projection must mirror the build's exactly. Id
    uniqueness across batches is the caller's contract.

    ``dedupe_on``: when set (crash-RECOVERY appends only — it costs one
    index scan), rows already present in the index under these columns
    are dropped first, making the append idempotent: probe the index
    with the batch's rows (inner join, batch side broadcast — bounded
    output), then anti-join the hits back. Normal-path appends must NOT
    pay this; see streaming/batch_commit for how replays are detected.
    """
    spark = rows.sparkSession
    if dedupe_on:
        hits = (
            spark.table(table)
            .alias("c")
            .join(
                F.broadcast(rows.alias("b")),
                [F.col(f"c.{c}") == F.col(f"b.{c}") for c in dedupe_on],
                "semi",
            )
            .select(*dedupe_on)
            .distinct()
        )
        rows = rows.join(F.broadcast(hits), dedupe_on, "left_anti")
    rows.repartition(bucket_col).write.insertInto(table, overwrite=False)
