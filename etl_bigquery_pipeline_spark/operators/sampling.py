"""Sampling & ID-assignment operators for training-data curation.

Corpus curation constantly needs: reproducible holdout splits, per-stratum
downsampling (e.g., cap each language/source at a quota), and stable row
ids. All of these have sharp edges at scale:

- df.sample/randomSplit are seed-deterministic but *partitioning-
  dependent* — stable only while the upstream plan (and its splits) stays
  fixed. For splits that must survive re-partitioning, use
  ``hash_split``: membership is a pure function of a key column.
- monotonically_increasing_id() is partition-dependent and not stable
  across runs; ``with_stable_ids`` derives ids from a declared total
  order instead (one global sort — pay it once at ingest, then persist);
  ``with_stable_ids_distributed`` gives the same ids from the
  range-partitioned row number (``windows.with_global_row_number``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions.text import hex8_to_int
from etl_bigquery_pipeline_spark.operators.windows import with_global_row_number


def _key_hash(salt: str, key_col: str) -> Column:
    """md5(salt:key) as a bigint in [0, 2^32): the row's engine-replayable
    draw."""
    return hex8_to_int(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    *,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Partition-independent split assignment: bucket = md5(salt:key) mod
    10_000 mapped onto cumulative weight ranges. Same key -> same split,
    on any cluster, any partitioning, any engine with md5."""
    total = sum(weights.values())
    acc = 0.0
    bucket = _key_hash(salt, key_col) % 10000
    expr = None
    for name, w in weights.items():
        acc += w / total * 10000
        cond = bucket < F.lit(int(round(acc)))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = list(weights)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    *,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (sampleBy): cap over-represented
    languages/sources at a fraction. One pass, no shuffle."""
    return df.sampleBy(stratum_col, fractions, seed)


def with_stable_ids(
    df: DataFrame,
    order_by: list[str],
    *,
    id_col: str = "row_id",
) -> DataFrame:
    """Assign dense 0-based ids by a declared total order.

    One global sort (single-partition window) — correct and reproducible;
    meant for ingest-time assignment that is then persisted.
    ``with_stable_ids_distributed`` assigns the SAME ids wide (range
    partitions + offsets, ``windows.with_running_sums``); for
    assign-on-read at extreme scale, prefer hash-derived keys (md5 of a
    natural key) over positional ids.
    """
    w = Window.orderBy(*order_by)
    return df.withColumn(id_col, F.row_number().over(w).cast("bigint") - 1)


def with_stable_ids_distributed(
    df: DataFrame,
    order_by: list[str],
    *,
    id_col: str = "row_id",
    partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based ids by a declared total order — the 100 TB path.

    ``windows.with_global_row_number`` minus one: a range shuffle plus a
    per-partition scan, with one offset per partition collected to the
    driver (see ``windows.with_running_sums``). Produces the same ids as
    ``with_stable_ids`` when ``order_by`` is a total order (make the key
    unique — same caveat as any row_number). The ranged frame is cached;
    release it (``cache_scope`` or ``clearCache()``) after persisting
    the result.
    """
    out, _ = with_global_row_number(
        df, order_by, rn_col=id_col, partitions=partitions
    )
    return out.withColumn(id_col, F.col(id_col) - 1)


def resample_to_mixture(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_col: str,
    *,
    default: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain-mixture resampling: keep each row with its
    stratum's target fraction, decided by md5(salt:key) — NOT an RNG.

    This is how a training-data pipeline downweights over-represented
    sources (e.g. keep 25% of common-crawl, 100% of books): unlike
    ``sampleBy`` the decision is a pure function of the row key, so the
    sample is identical on any cluster, any partitioning, any engine with
    md5 — re-runs and incremental refreshes select the SAME rows, and an
    external SQL engine can replay membership exactly. One narrow filter,
    no shuffle, fully pushdown-compatible.
    """
    bucket = _key_hash(salt, key_col) % 10000
    cut = None
    for name, frac in fractions.items():
        th = F.lit(int(round(frac * 10000)))
        cond = F.col(stratum_col) == F.lit(name)
        cut = F.when(cond, th) if cut is None else cut.when(cond, th)
    cut = (
        cut.otherwise(F.lit(int(round(default * 10000))))
        if cut is not None
        else F.lit(int(round(default * 10000)))
    )
    return df.filter(bucket < cut)


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    key_col: str,
    *,
    salt: str = "wsamp",
) -> DataFrame:
    """Per-row weighted Bernoulli sampling, deterministic: keep a row iff
    md5(salt:key) mod 10000 < weight * 10000, where ``weight_col`` is any
    expression in [0, 1] (importance weights, quality-derived keep
    probabilities). Like resample_to_mixture this is a pure filter — no
    shuffle, engine-replayable, identical draw on every cluster — but the
    probability varies row-by-row instead of per stratum."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    bucket = _key_hash(salt, key_col) % 10000
    return df.filter(bucket < w * 10000)


def weighted_reservoir_topk(
    df: DataFrame,
    weight_col,
    key_col: str,
    *,
    k: int,
    salt: str = "ares",
) -> DataFrame:
    """EXACTLY-k weighted sampling without replacement (Efraimidis-
    Spirakis A-ES, public technique): each row draws the deterministic
    uniform u = md5(salt:key) mapped into (0, 1) and scores
    key = -ln(u) / w; the k SMALLEST scores are the sample. Inclusion
    probability is proportional to weight, and unlike weighted_sample
    (per-row Bernoulli, variable output size) the output size is fixed —
    the guarantee training-set builders usually need.

    Deterministic and engine-replayable: the score is a pure expression
    of (salt, key, weight), rounded with a key tie-break so ranking
    survives last-ulp libm differences across engines. The global top-k
    is orderBy + limit — Spark plans TakeOrderedAndProject (per-partition
    top-k, merged k-way), NOT a single-partition global window; ranks are
    assigned afterwards over only the k survivors. One scan, no RNG
    state."""
    from pyspark.sql import Window as _W

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # A-ES requires strictly positive weights: w=0 scores Infinity (row
    # silently excluded) and w<0 scores negative (row always wins) —
    # filter them out up front, matching geomean_udf's positive-inputs
    # contract.
    df = df.filter(w > 0)
    u = (_key_hash(salt, key_col) % 100000 + 1) / 100001.0
    score = F.round(-F.log(u) / w, 6)
    top = (
        df.withColumn("score", score)
        .orderBy(F.col("score").asc(), F.col(key_col).asc())
        .limit(k)
    )
    win = _W.orderBy(F.col("score").asc(), F.col(key_col).asc())
    return top.withColumn("rnk", F.row_number().over(win).cast("bigint"))
