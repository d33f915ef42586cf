"""Sequence packing: group documents into fixed token budgets.

Training pipelines pack variable-length documents into fixed-size token
batches (e.g. 8k-token sequences). Optimal bin packing is NP-hard and
inherently sequential; the standard scalable compromise is streaming
packing — a deterministic order, a running token sum, and
pack_id = floor(cumulative_start / budget). Documents longer than the
budget get a pack of their own (they'd be chunked upstream).

Scale shape: `pack_global` is a single sequential scan (fine for
driver-sized corpora / the oracle); `pack_global_distributed` gives the
same packs from the range-partitioned running sum
(`windows.with_running_sums`); `packed` partitions the corpus into hash
buckets first and packs within each bucket — embarrassingly parallel,
same asymptotic fill rate, pack ids namespaced by bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.windows import with_running_sums


def pack_global(
    df: DataFrame,
    *,
    size_col: str,
    order_by: list[str],
    budget: int,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Sequential packing over one global order (single-partition window —
    the oracle-checkable reference semantics). Identical output at any
    scale: ``pack_global_distributed`` (range-partitioned two-stage
    cumulative sums); relaxed semantics at maximum parallelism:
    ``packed`` (bucket-namespaced ids)."""
    w = Window.orderBy(*order_by).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(size_col).over(w)
    start = cum - F.col(size_col)
    return df.withColumn(pack_col, F.floor(start / budget).cast("bigint"))


def pack_global_distributed(
    df: DataFrame,
    *,
    size_col: str,
    order_by: list[str],
    budget: int,
    pack_col: str = "pack_id",
    partitions: int | None = None,
) -> DataFrame:
    """EXACT global-packing semantics, computed wide — the 100 TB path
    for ``pack_global``.

    The running token sum is ``windows.with_running_sums`` (range
    shuffle, per-partition running sums plus one collected offset per
    partition), and ``pack_id = floor((cum - size) / budget)`` as in
    ``pack_global``, which the result equals row for row. The ranged
    frame is cached; release it (``cache_scope`` or ``clearCache()``)
    after persisting the result.
    """
    out, _ = with_running_sums(df, order_by, [size_col], partitions=partitions)
    cum = F.col(f"cum_{size_col}")
    return out.withColumn(
        pack_col, F.floor((cum - F.col(size_col)) / budget).cast("bigint")
    ).drop(cum)


def packed(
    df: DataFrame,
    *,
    size_col: str,
    order_by: list[str],
    budget: int,
    buckets: int = 256,
    key_col: str | None = None,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Parallel packing: hash-bucket the corpus, pack within each bucket,
    namespace pack ids as bucket * 2^40 + local pack. Each bucket's window
    is independent, so the sort is per-bucket, not global."""
    key = F.col(key_col) if key_col else F.col(order_by[0])
    b = F.pmod(F.hash(key), F.lit(buckets))
    w = (
        Window.partitionBy("__bucket")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.withColumn("__bucket", b)
    cum = F.sum(size_col).over(w)
    start = cum - F.col(size_col)
    local = F.floor(start / budget).cast("bigint")
    return out.withColumn(
        pack_col, (F.col("__bucket").cast("bigint") * (1 << 40)) + local
    ).drop("__bucket")
