"""Warehouse sinks (SURVEY.md §2.1 S5, S7).

The reference loads pandas frames into BigQuery with truncate-and-reload +
schema autodetect (/root/reference/dags/etl_pipeline.py:202-218) and creates
the dataset with a DDL call (:41-60). Spark-first mapping: a small sink
interface with two implementations —

- ParquetWarehouse: the test-environment warehouse; overwrite-mode parquet
  (or saveAsTable) gives the same truncate-reload semantics with a columnar,
  statistics-bearing format instead of a network round-trip.
- BigQueryWarehouse: the production path via the public spark-bigquery
  connector (`df.write.format("bigquery")`); constructed lazily so the repo
  never needs the connector jar or network in tests.

Unlike the reference there is no schema "autodetect" step: a Spark
DataFrame is always typed, so the warehouse schema is the plan's schema.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Truncate-and-reload parquet sink (S5 semantics).

    ``partition_by`` is the 100 TB lever: partitioning the output by the
    dominant filter column (e.g. a date) lets every downstream scan prune
    whole directories.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    compression: str = "zstd",
) -> None:
    """ORC sink — same truncate-and-reload + partition-pruning posture as
    write_parquet, for Hive-ecosystem consumers. zstd by default (ORC's
    best size/speed trade on modern Spark)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


class WarehouseSink:
    """Interface: truncate-reload a table + read it back for validation."""

    def create_namespace(self, name: str) -> None:  # S7
        raise NotImplementedError

    def overwrite(self, df: DataFrame, table: str) -> None:  # S5
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:  # S6
        raise NotImplementedError


@dataclass
class ParquetWarehouse(WarehouseSink):
    """Filesystem-backed warehouse used by tests and local pipelines.

    The upsert swap uses ``os.rename`` and therefore assumes ``root`` is a
    LOCAL filesystem path (the same assumption as writing through Spark's
    ``file://`` scheme on one machine). Object-store or HDFS roots are
    rejected at construction — a rewrite-based upsert there belongs to a
    table format with a transaction log, not directory renames.
    """

    root: str

    def __post_init__(self) -> None:
        if "://" in self.root and not self.root.startswith("file://"):
            raise ValueError(
                "ParquetWarehouse requires a local filesystem root; got "
                f"{self.root!r}. Use a transactional table format for "
                "object stores."
            )

    def _path(self, table: str) -> str:
        return os.path.join(self.root, *table.split("."))

    def _heal(self, path: str) -> None:
        """Recover from a crash mid-swap: if only the ``.__old`` directory
        exists the previous swap died between its two renames — restore
        it; if both exist the swap completed but cleanup didn't — drop the
        leftover. A ``.__staging`` directory is never the live table, so
        a crashed swap's staging copy is dropped in every state."""
        import shutil

        old = path + ".__old"
        if os.path.exists(old):
            if os.path.exists(path):
                shutil.rmtree(old)
            else:
                os.rename(old, path)
        shutil.rmtree(path + ".__staging", ignore_errors=True)

    def exists(self, table: str) -> bool:
        """Whether ``table`` exists, after healing a crash mid-swap: a
        table parked at ``.__old`` by an interrupted swap is restored and
        counts as existing."""
        path = self._path(table)
        self._heal(path)
        return os.path.exists(path)

    def create_namespace(self, name: str) -> None:
        os.makedirs(os.path.join(self.root, name), exist_ok=True)

    def overwrite(self, df: DataFrame, table: str) -> None:
        self._heal(self._path(table))
        write_parquet(df, self._path(table), mode="overwrite")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        self._heal(self._path(table))
        return spark.read.parquet(self._path(table))

    def upsert(self, updates: DataFrame, table: str, keys: list[str]) -> None:
        """Merge-by-rewrite upsert: rows matching an update key are
        replaced, new keys are inserted (MERGE WHEN MATCHED UPDATE /
        NOT MATCHED INSERT over a format without transaction logs).

        Plan: target LEFT ANTI updates on the keys (drop stale versions)
        UNION the updates, write to a staging path, swap directories. At
        warehouse scale this is the compaction-style merge every
        rewrite-based lakehouse runs under the hood; a real deployment
        partitions the table and rewrites only partitions containing
        update keys (partition_by in write_parquet + a key → partition
        pruning filter). The anti join broadcasts the update side when
        small — the common CDC-batch case.

        Crash safety: two ``os.rename`` calls cannot be one atomic
        directory exchange on POSIX, so instead of pretending, the swap is
        made *recoverable*: the previous table is parked at ``.__old`` and
        deleted only after the new directory is verified in place, and
        every entry point first runs ``_heal`` — a crash between the
        renames restores the parked table on the next call. A concurrent
        reader can still observe the brief missing-directory window;
        single-writer local use (what this class is for) is documented
        above.
        """
        path = self._path(table)
        if not self.exists(table):
            write_parquet(updates, path, mode="overwrite")
            return
        target = updates.sparkSession.read.parquet(path)
        merged = target.join(updates, keys, "left_anti").unionByName(updates)
        self.rewrite(merged, table)

    def delete_where(
        self, spark: SparkSession, table: str, predicate: str
    ) -> int:
        """Targeted delete (right-to-be-forgotten / retention purge):
        rewrite the table WITHOUT rows matching ``predicate``; returns
        the number of rows removed. Rewrite-based like upsert — on a
        table format with a transaction log this becomes a DELETE
        commit, but the semantics (and the staging-swap crash posture)
        are identical. Pair with layout.compact_small_files if purges
        fragment the file layout.

        SQL three-valued logic: a row where ``predicate`` evaluates to
        NULL is NOT deleted — only rows where it is strictly TRUE are.
        (``NOT (pred)`` alone would silently drop NULL-evaluating rows
        while the removed-count query didn't count them.)"""
        target = self.read(spark, table)
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        removed = target.filter(pred).count()
        if removed:
            self.rewrite(target.filter(~pred), table)
        return removed

    def rewrite(self, df: DataFrame, table: str) -> None:
        """Replace ``table`` with ``df`` where ``df``'s plan may READ the
        table being replaced (merge/SCD folds): the plan materializes into
        a staging directory first, then the directories swap — never an
        in-place overwrite of files a running plan is scanning. Same
        crash-recovery discipline as upsert (see the class docstring)."""
        import shutil

        path = self._path(table)
        if not self.exists(table):
            write_parquet(df, path, mode="overwrite")
            return
        staging = path + ".__staging"
        write_parquet(df, staging, mode="overwrite")
        old = path + ".__old"
        os.rename(path, old)
        os.rename(staging, path)
        # only drop the parked previous version once the new directory is
        # verifiably the live table (parquet commit marker present)
        if os.path.isdir(path) and os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            shutil.rmtree(old)
        else:  # pragma: no cover - swap verification failed; keep .__old
            raise RuntimeError(
                f"rewrite swap for {table!r} left no verified table at "
                f"{path}; previous version preserved at {old}"
            )


@dataclass
class BigQueryWarehouse(WarehouseSink):
    """Production warehouse via the open-source spark-bigquery connector.

    Mirrors the reference's WRITE_TRUNCATE + dataset-create-if-absent
    behavior (/root/reference/dags/etl_pipeline.py:54, :209). Requires the
    connector package on the cluster classpath
    (com.google.cloud.spark:spark-bigquery-with-dependencies). The write/
    read plumbing (mode mapping, option construction, writer assembly) is
    format-agnostic by design: tests execute it end-to-end by subclassing
    with ``FORMAT = "parquet"`` and path-valued options
    (tests/test_sources.py), so only the network hop itself is untested
    in this offline environment.
    """

    project: str
    dataset: str
    location: str = "us-central1"
    write_method: str = "indirect"

    FORMAT = "bigquery"
    # the reference's load_table_from_dataframe uses WRITE_TRUNCATE
    # (/root/reference/dags/etl_pipeline.py:209) — Spark's save-mode
    # equivalents, mapped once so both directions are testable offline
    _DISPOSITION_TO_MODE = {
        "WRITE_TRUNCATE": "overwrite",
        "WRITE_APPEND": "append",
        "WRITE_EMPTY": "errorifexists",
    }

    def table_id(self, table: str) -> str:
        return f"{self.project}.{self.dataset}.{table}"

    def write_options(self, table: str) -> dict[str, str]:
        """Connector options for the write path, offline-assertable.

        ``writeMethod=indirect`` stages parquet to GCS then issues one
        load job — the truncate-reload shape the reference performs;
        ``direct`` streams via the Storage Write API (no staging bucket,
        appends only)."""
        return {
            "table": self.table_id(table),
            "writeMethod": self.write_method,
        }

    def read_options(self, table: str) -> dict[str, str]:
        return {"table": self.table_id(table)}

    @classmethod
    def mode_for_disposition(cls, disposition: str) -> str:
        """BigQuery write disposition -> Spark save mode."""
        try:
            return cls._DISPOSITION_TO_MODE[disposition]
        except KeyError:
            raise ValueError(
                f"unknown BigQuery write disposition {disposition!r}; "
                f"expected one of {sorted(cls._DISPOSITION_TO_MODE)}"
            ) from None

    def dataset_spec(self, name: str) -> dict[str, str]:
        """The dataset reference create_namespace creates — offline-
        assertable (id construction + location routing)."""
        return {"id": f"{self.project}.{name}", "location": self.location}

    def create_namespace(self, name: str) -> None:
        spec = self.dataset_spec(name)
        from google.cloud import bigquery  # pragma: no cover - needs network

        client = bigquery.Client(project=self.project)  # pragma: no cover
        ds = bigquery.Dataset(spec["id"])  # pragma: no cover
        ds.location = spec["location"]  # pragma: no cover
        client.create_dataset(ds, exists_ok=True)  # pragma: no cover

    def overwrite(self, df: DataFrame, table: str) -> None:
        writer = df.write.format(self.FORMAT).mode(
            self.mode_for_disposition("WRITE_TRUNCATE")
        )
        for k, v in self.write_options(table).items():
            writer = writer.option(k, v)
        writer.save()  # pragma: no cover - needs connector jar + network

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        reader = spark.read.format(self.FORMAT)
        for k, v in self.read_options(table).items():
            reader = reader.option(k, v)
        return reader.load()  # pragma: no cover - needs connector + network


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    *,
    shards: int,
    shard_key: str,
    compression: str | None = "gzip",
    sort_within_shards: str | list[str] | None = None,
) -> dict:
    """Training-data export: hash-sharded JSONL (the interchange format
    most training loaders consume) plus a ``manifest.json`` naming every
    shard with its row count and byte size (underscore-prefixed like
    _SUCCESS, so directory-level readers skip it) — the contract that lets a
    downstream loader verify completeness without re-scanning data.

    Sharding is ``repartition(shards, hash(shard_key))`` — deterministic
    membership (a given key always lands in the same shard for a fixed
    shard count), one output file per shard. Row counts come from ONE
    aggregate over the same sharded frame (spark_partition_id ==
    output-file ordinal under direct one-file-per-partition JSON write),
    not a post-hoc rescan of the written text.

    ``sort_within_shards`` orders rows INSIDE each shard file
    (``sortWithinPartitions`` after the shard shuffle — a caller-side
    ``orderBy`` before this function would be discarded by the
    ``repartition``; loaders that need an order either pass it here or
    re-sort on the carried column).

    The manifest is written driver-side via the local filesystem — for
    object stores, swap the two ``open``/``os`` calls for the Hadoop FS
    API; everything else is storage-agnostic."""
    import json as _json

    sharded = df.repartition(shards, F.col(shard_key))
    if sort_within_shards is not None:
        keys = (
            [sort_within_shards]
            if isinstance(sort_within_shards, str)
            else list(sort_within_shards)
        )
        sharded = sharded.sortWithinPartitions(*keys)
    # persisted across the write and the count so the manifest describes
    # the exact rows written even for non-deterministic or concurrently
    # mutated sources (the two jobs would otherwise re-evaluate lineage)
    sharded = sharded.persist()
    try:
        writer = sharded.write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        writer.json(path)

        counts = {
            int(r["pid"]): int(r["n"])
            for r in sharded.groupBy(
                F.spark_partition_id().alias("pid")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
    finally:
        sharded.unpersist()
    files = sorted(
        f for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    manifest = {
        "format": "jsonl",
        "compression": compression,
        "shards": [
            {
                "file": f,
                # part-00007-... -> partition ordinal 7
                "rows": counts.get(int(f.split("-")[1]), 0),
                "bytes": os.path.getsize(os.path.join(path, f)),
            }
            for f in files
        ],
        "total_rows": sum(counts.values()),
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        _json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest
