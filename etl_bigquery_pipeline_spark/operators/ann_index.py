"""Persisted ANN indexes: write-once bucketed corpus, shuffle-free probes.

The in-memory paths (operators/similarity.py) recompute bucket codes /
cells on every query batch and shuffle nothing but still scan everything.
At 100 TB the corpus should be written ONCE with its bucket key
materialized, so that a probe:

1. reads only the matching bucket FILES — Spark prunes buckets for
   equality/IN predicates on the bucketing column (``SelectedBucketsCount``
   in the scan node), so a probe touches ~|probe set|/buckets of the data;
2. never shuffles the corpus — the query side is broadcast, and the only
   Exchange in the whole plan is the tiny candidate-set repartition for
   the per-query top-k window.

Index rows are (neighbor_id, vec, vnorm, bucket|cell). Writes, appends
and the one-row ``<table>__meta`` JSON table (hyperplane seed/bits for
LSH, trained centroids for IVF — probes never retrain and never rescan
the corpus) go through operators/band_index_core, the core all four
persisted index families share. This module keeps the embedding-specific
parts: the key each vector is filed under, and the probe, which ranks
its candidates with ``similarity.rank_by_cosine``.

Same contract as similarity.py: with identical (dim, bits, seed,
probe_flips) an index probe returns EXACTLY the rows of
``lsh_cosine_topk`` — the candidates are the same set, the scoring the
same expressions — which is what lets tests (and the driver) check the
persisted path against the in-memory one value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions.vectors import norm
from etl_bigquery_pipeline_spark.operators.band_index_core import (
    append_band_rows,
    read_meta,
    write_band_index,
)
from etl_bigquery_pipeline_spark.operators.partitioning import (
    widen_if_narrow,
)
from etl_bigquery_pipeline_spark.operators.similarity import (
    _nearest_centroids,
    hyperplane_bucket,
    probe_buckets,
    query_side,
    rank_by_cosine,
    train_centroids,
)


def _index_rows(
    vectors: DataFrame, id_col: str, vec_col: str, key
) -> DataFrame:
    """(neighbor_id, vec, vnorm, key) — the index row layout; builds and
    appends share it because the append resolves columns by POSITION."""
    return vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        norm(vec_col).alias("vnorm"),
        key,
    )


def _rank_probe(
    spark: SparkSession,
    table: str,
    q: DataFrame,
    key: str,
    keys: list,
    *,
    k: int,
    query_id_col: str,
    sim_decimals: int,
) -> DataFrame:
    """Rank a probe's candidates: the index scan filtered to ``key IN
    keys`` (bucket pruning), joined to the broadcast query side ``q`` on
    ``key``, self-matches dropped."""
    c = (
        spark.table(table)
        .filter(F.col(key).isin(keys))
        .select(
            "neighbor_id",
            F.col("vec").alias("__cvec"),
            F.col("vnorm").alias("__cnorm"),
            key,
        )
    )
    pairs = c.join(F.broadcast(q), key).filter(
        F.col(query_id_col) != F.col("neighbor_id")
    )
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )


def build_lsh_index(
    corpus: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    seed: int = 42,
    buckets: int | None = None,
) -> None:
    """One-time index build: bucket code + norm materialized per vector,
    persisted bucketed-by(bucket) so probes bucket-prune the scan.

    The build is the only pass over the corpus; at 100 TB it is a single
    map + bucketed write (one shuffle into the bucket layout, amortized
    over every future probe).
    """
    # the per-vector bucket/norm projection runs MAP-SIDE of the bucket
    # shuffle (the exchange needs the key the projection computes), so a
    # degenerate scan width — e.g. a single-row-group parquet file —
    # would serialize it; widen first (the pq_topk sf10 find, SCALE.md)
    indexed = _index_rows(
        widen_if_narrow(corpus, id_col), id_col, vec_col,
        hyperplane_bucket(vec_col, dim=dim, bits=bits, seed=seed).alias("bucket"),
    )
    write_band_index(
        indexed,
        table,
        "bucket",
        {"kind": "lsh", "dim": dim, "bits": bits, "seed": seed},
        n_buckets=buckets or min(2**bits, 64),
    )


def append_to_lsh_index(
    new_vectors: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recovery: bool = False,
) -> None:
    """Incremental index maintenance: bucket-code the new batch with the
    PERSISTED hash parameters (a batch can never disagree with the build)
    and insert into the bucketed table — Spark shuffles the batch into
    the existing bucket layout, so probes see old + new vectors with no
    rebuild and bucket pruning intact. The daily-ingest shape for ANN:
    per-batch cost is one pass over the batch, never the corpus.
    Id uniqueness across batches is the caller's contract, same as the
    band index (dedup.build_band_index)."""
    meta = read_meta(
        new_vectors.sparkSession, table, "lsh",
        reader="append_to_lsh_index maintains",
    )
    batch = _index_rows(
        new_vectors, id_col, vec_col,
        hyperplane_bucket(
            vec_col, dim=meta["dim"], bits=meta["bits"], seed=meta["seed"]
        ).alias("bucket"),
    )
    # recovery: crash-window replay (streaming/batch_commit's marker
    # protocol) — the crashed attempt may have inserted some/all of this
    # batch. Each vector is ONE index row, so id-level dedupe is exact.
    append_band_rows(
        batch, table, "bucket", dedupe_on=["neighbor_id"] if recovery else None
    )


def probe_lsh_index(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    probe_flips: int = 1,
    sim_decimals: int = 6,
) -> DataFrame:
    """Top-k probe against a persisted LSH index — zero corpus shuffle.

    The query batch's probe codes (own bucket + every ``probe_flips``-flip
    neighbor) are collected driver-side (bounded: |queries|×(bits+1)
    short strings — queries are small by contract) and pushed into the
    scan as ``bucket IN (...)``, which Spark turns into bucket pruning:
    non-matching bucket files are never read. The query side is broadcast;
    the corpus side flows scan→join with no Exchange. Returns
    (query_id, neighbor_id, sim, rank) — identical to
    ``similarity.lsh_cosine_topk`` at equal parameters.
    """
    meta = read_meta(spark, table, "lsh", reader="probe_lsh_index probes")
    dim, bits, seed = meta["dim"], meta["bits"], meta["seed"]
    q = query_side(
        queries, id_col, vec_col, query_id_col,
        F.explode(
            probe_buckets(
                hyperplane_bucket(vec_col, dim=dim, bits=bits, seed=seed),
                bits=bits,
                max_flips=probe_flips,
            )
        ).alias("bucket"),
    )
    probe_codes = sorted({r.bucket for r in q.select("bucket").collect()})
    return _rank_probe(
        spark, table, q, "bucket", probe_codes,
        k=k, query_id_col=query_id_col, sim_decimals=sim_decimals,
    )


def build_ivf_index(
    corpus: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    sample_n: int = 2048,
    seed: int = 42,
    buckets: int | None = None,
) -> None:
    """One-time IVF build: train centroids on a bounded sample, assign
    each vector to its nearest cell, persist bucketed-by(cell). Centroids
    land in the meta table so probes reuse them without retraining."""
    # same map-side-projection widening as build_lsh_index — the
    # nearest-centroid assignment (nlist distances per vector) is the
    # most expensive per-row expression in this module
    corpus = widen_if_narrow(corpus, id_col)
    centroids = train_centroids(
        corpus,
        vec_col=vec_col,
        id_col=id_col,
        nlist=nlist,
        sample_n=sample_n,
        seed=seed,
    )
    indexed = _index_rows(
        corpus, id_col, vec_col,
        F.element_at(_nearest_centroids(vec_col, centroids, 1), 1).alias("cell"),
    )
    write_band_index(
        indexed,
        table,
        "cell",
        {"kind": "ivf", "centroids": centroids},
        n_buckets=buckets or min(nlist, 64),
    )


def append_to_ivf_index(
    new_vectors: DataFrame,
    table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign the batch to cells with the
    PERSISTED trained centroids (never retrained — a retrain would move
    cell boundaries and silently orphan old vectors) and insert into the
    bucketed layout. Same contract as append_to_lsh_index: per-batch
    cost, pruning intact, id uniqueness on the caller. If the corpus
    drifts far from the trained centroids, rebuild — cell occupancy
    (spark.table(t).groupBy('cell').count()) is the drift signal."""
    meta = read_meta(
        new_vectors.sparkSession, table, "ivf",
        reader="append_to_ivf_index maintains",
    )
    batch = _index_rows(
        new_vectors, id_col, vec_col,
        F.element_at(
            _nearest_centroids(vec_col, meta["centroids"], 1), 1
        ).alias("cell"),
    )
    append_band_rows(batch, table, "cell")


def probe_ivf_index(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """Top-k probe against a persisted IVF index — zero corpus shuffle,
    cells bucket-pruned via ``cell IN (...)``. Identical results to
    ``similarity.ivf_cosine_topk`` at equal parameters."""
    meta = read_meta(spark, table, "ivf", reader="probe_ivf_index probes")
    q = query_side(
        queries, id_col, vec_col, query_id_col,
        F.explode(
            _nearest_centroids(vec_col, meta["centroids"], nprobe)
        ).alias("cell"),
    )
    probe_cells = sorted({r.cell for r in q.select("cell").collect()})
    return _rank_probe(
        spark, table, q, "cell", probe_cells,
        k=k, query_id_col=query_id_col, sim_decimals=sim_decimals,
    )
