"""Time-window aggregations over events, batch semantics.

North-star tier (SURVEY.md §7.3): tumbling and sliding windows expressed so
the identical aggregate runs (a) in batch — oracle-checkable — and (b) in
Structured Streaming (streaming/events.py) with a watermark.

Tumbling windows group on date_trunc (a pure projection: the shuffle key is
the truncated timestamp, partial aggregation happens map-side). Sliding
windows explode each event into windows_per_event rows first — the standard
Spark formulation via F.window(slide=...).

Ordered analytics (row numbers, NTILE, CUME_DIST, exact percentiles,
running totals) share one prefix-sum technique, ``with_running_sums``:
range-partition, sum per partition, add each partition's offset. Its
callers (``with_global_row_number`` and ``exact_percentiles`` here,
``sampling`` stable ids, ``packing`` global packs) are thin wrappers, so
no ordered analytic plans a single-partition window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_bigquery_pipeline_spark.operators.caching import scoped_cache


def with_running_sums(
    df: DataFrame,
    order_by: Sequence[Column | str],
    sum_cols: Sequence[str],
    *,
    group_by: Sequence[str] = (),
    partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Running SUMs over a total order, optionally per group — without
    a single-partition window. Appends ``cum_<col>`` for each of
    ``sum_cols``; returns ``(frame, totals)`` where ``totals`` maps each
    column to its grand total (0 on an empty input).

    A bare ``Window.orderBy(...)`` running sum moves the whole table
    through ONE task, and ``Window.partitionBy(group)`` does the same per
    group when groups are few and corpus-proportional. Instead: one
    ``repartitionByRange`` on (group_by, order_by), so each partition
    holds a contiguous slice of the order and a group may SPAN
    partitions; an ordinary window over (partition id, group) gives the
    local running sum; and a literal map adds the exact sum of the
    group's earlier partitions. The map comes from one bounded collect of
    per-(partition, group) totals — about partitions + groups rows, since
    each partition is a contiguous range. That is why ``group_by`` is for
    low-cardinality groups; many small groups should keep the ordinary
    partitioned window. The map is keyed on the partition id, or on
    ``struct(partition id, *group_by)`` when grouped (a NULL group is
    its own key, as in ``Window.partitionBy``), and cast to the sum's
    type, so an empty input still resolves; ``cum_<col>`` has the sum's
    type too (a decimal offset would otherwise widen it by a digit).
    Integer sums merge exactly, so the result is bit-identical to the
    serial window.

    ``order_by`` must be a unique total order within a group (add a
    unique key as the last tie-break; ties may straddle a partition
    boundary). Descending keys (``F.col(c).desc()``) are supported:
    the range partitions then run along the descending order. The ranged
    frame is cached (``scoped_cache``) because the totals collect and the
    returned plan both consume it.
    """
    par = (
        partitions
        if partitions is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = (
        df.repartitionByRange(par, *[F.col(g) for g in group_by], *ocols)
        .withColumn("__gpid", F.spark_partition_id())
        .transform(scoped_cache)
    )
    tot_df = ranged.groupBy("__gpid", *group_by).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
    # partition ids increase along the order, so each group's offset is
    # the running total of its slices in earlier partitions
    running: dict[tuple, dict] = {}
    offsets: dict[str, list] = {c: [] for c in sum_cols}
    totals = dict.fromkeys(sum_cols, 0)
    for r in sorted(tot_df.collect(), key=lambda r: r["__gpid"]):
        g = tuple(r[c] for c in group_by)
        key = (
            F.struct(*map(F.lit, (r["__gpid"], *g)))
            if group_by
            else F.lit(r["__gpid"])
        )
        acc = running.setdefault(g, dict.fromkeys(sum_cols, 0))
        for c in sum_cols:
            offsets[c] += [key, F.lit(acc[c])]
            acc[c] += r[c] or 0
            totals[c] += r[c] or 0
    if group_by:
        key_type = T.StructType(
            [tot_df.schema[c] for c in ("__gpid", *group_by)]
        )
        key_col = F.struct("__gpid", *group_by)
    else:
        key_type, key_col = tot_df.schema["__gpid"].dataType, F.col("__gpid")
    w = (
        Window.partitionBy("__gpid", *group_by)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ranged
    for c in sum_cols:
        sum_type = tot_df.schema[c].dataType
        mapping = F.create_map(*offsets[c]).cast(T.MapType(key_type, sum_type))
        out = out.withColumn(
            f"cum_{c}", (F.sum(c).over(w) + mapping[key_col]).cast(sum_type)
        )
    return out.drop("__gpid"), totals


def with_global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    *,
    rn_col: str = "__rn",
    partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """1-based global row numbers over a unique total order: the running
    count of ``with_running_sums`` (no single-partition window). Returns
    ``(frame_with_rn, total_rows)``; the total comes with the offsets
    collect, so callers needing N (ntile, cume_dist) pay no second
    action."""
    out, totals = with_running_sums(
        df.withColumn("__one", F.lit(1)),
        order_by,
        ["__one"],
        partitions=partitions,
    )
    return (
        out.withColumn(rn_col, F.col("cum___one")).drop("__one", "cum___one"),
        totals["__one"],
    )


def ntile_from_row_number(rn: Column, total: int, buckets: int) -> Column:
    """Closed-form NTILE(buckets) from a 1-based global row number.

    Standard SQL NTILE: the first ``total % buckets`` tiles get
    ``total // buckets + 1`` rows, the rest ``total // buckets``. Pure
    arithmetic on the distributed row number — no window, no shuffle.
    """
    base = total // buckets
    rem = total % buckets
    boundary = rem * (base + 1)
    big = F.floor((rn - 1) / F.lit(base + 1)) + 1
    small = F.lit(rem) + F.floor((rn - F.lit(boundary) - 1) / F.lit(max(base, 1))) + 1
    return F.when(rn <= boundary, big).otherwise(small).cast("bigint")


def exact_percentiles(
    df: DataFrame, gcol: str | None, vcol: str, ps: list, names: list
) -> DataFrame:
    """Exact interpolated (type-7 / quantile_cont) percentiles computed
    over the VALUE-FREQUENCY HISTOGRAM instead of Spark's percentile()
    buffer.

    percentile()/median() hold a per-group value->count map inside each
    partial-aggregation task — at sf10 (20M+ rows per l_returnflag
    group, 4 exact percentiles at once) that buffer OOMed a 16 GiB
    driver JVM (r8 sweep finding; BufferHolder.grow). The histogram
    form is the scale-correct plan: groupBy(group, value) with map-side
    combine (state bounded by DISTINCT values, not rows), a cumulative
    count over the per-group sorted distinct values (window input is
    the histogram, not the data), then each target order statistic
    located by its cumulative range and interpolated:
    target = (n-1)*p, value = x_lo + (x_hi - x_lo) * frac — exactly
    DuckDB's quantile_cont.

    The cumulative count runs through ``with_running_sums``
    (range-partition on (group, value) + exact per-partition offsets;
    integer counts merge exactly, so the result is bit-identical), with
    ``gcol=None`` meaning UNGROUPED percentiles. Neither an ordered
    global window nor ``Window.partitionBy(gcol)``: the histogram of a
    near-continuous column (o_totalprice ~15M distinct at sf10) is
    corpus-proportional, and a few groups (3 for l_returnflag) would
    funnel it through one window task per group — the scale-killer
    class the plan lint exists to block (r8 verdict What's-wrong #1).

    NULLs in ``vcol`` are dropped first, matching percentile() /
    quantile_cont's null-ignoring semantics — a NULL histogram bucket
    would otherwise be counted in ``__n`` yet sort first in the
    cumulative order, silently shifting every percentile (r8 ADVICE).
    """
    df = df.filter(F.col(vcol).isNotNull())
    key = [gcol] if gcol else []
    hist = df.groupBy(*key, F.col(vcol).alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    hist, _ = with_running_sums(hist, ["__v"], ["__c"], group_by=key)
    hist = hist.withColumnRenamed("cum___c", "__cum")
    totals = hist.groupBy(*key).agg(F.sum("__c").alias("__n"))
    if gcol:
        # null-safe: groupBy keeps NULL as its own group, so the totals
        # join must not drop it (plain `=` would silently lose every
        # NULL-group row vs percentile()'s semantics)
        hist = hist.join(
            F.broadcast(totals.withColumnRenamed(gcol, "__g")),
            F.col(gcol).eqNullSafe(F.col("__g")),
        ).drop("__g")
    else:
        hist = hist.crossJoin(F.broadcast(totals))
    aggs = []
    for p, nm in zip(ps, names):
        tgt = (F.col("__n") - 1) * F.lit(float(p))
        lo, hi = F.floor(tgt), F.ceil(tgt)
        at = lambda k: F.max(  # noqa: E731 — value holding index k
            F.when(
                ((F.col("__cum") - F.col("__c")) <= k) & (k < F.col("__cum")),
                F.col("__v"),
            )
        )
        aggs += [
            at(lo).alias(f"__{nm}_lo"),
            at(hi).alias(f"__{nm}_hi"),
            F.max(tgt - lo).alias(f"__{nm}_fr"),  # constant per group
        ]
    out = hist.groupBy(*key).agg(*aggs)
    return out.select(
        *key,
        *[
            (
                F.col(f"__{nm}_lo")
                + (F.col(f"__{nm}_hi") - F.col(f"__{nm}_lo"))
                * F.col(f"__{nm}_fr")
            ).alias(nm)
            for nm in names
        ],
    )


def tumbling_agg(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    unit: str = "hour",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling window: (window_start, *keys) -> count / exact sum / min / max."""
    return (
        df.groupBy(F.date_trunc(unit, F.col(ts_col)).alias("window_start"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("value_sum"),
            F.min(value_col).alias("value_min"),
            F.max(value_col).alias("value_max"),
        )
    )


def sliding_agg(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Sliding window via F.window: each event lands in window/slide
    overlapping windows. Output key is the window start timestamp."""
    return (
        df.groupBy(F.window(F.col(ts_col), window, slide).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), *keys, "n_events", "value_sum")
    )
