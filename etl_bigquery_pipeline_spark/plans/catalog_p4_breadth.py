"""Round-2 breadth, incremental curation, grouped robust statistics — split from plans/catalog.py (r11).

Queries register into the shared catalog_base.QUERIES/ORACLE via
the @query decorator at import; plans/catalog.py imports the part
modules in the original textual order, so registration order (and
the driver's sample-prefix derivation) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column

from etl_bigquery_pipeline_spark.operators.caching import release_checkpoint
from etl_bigquery_pipeline_spark.plans.catalog_base import (
    DataFrame,
    F,
    QUERIES,
    SparkSession,
    TX,
    Window,
    _CLUSTERS_ORACLE,
    _DIM,
    _ann_panel,
    _hex8_to_int_sql,
    _planted_corpus,
    _t,
    dedup,
    layout,
    literal_frame,
    pq,
    query,
    scd,
    scoped_cache,
    sessionize,
    similarity,
    widen_if_narrow,
    windows,
)

# ===================================================================
# Round-2 breadth: embedding centroids, Pandas-UDF aggregate parity,
# exact percentiles, salted-join equivalence gate
# ===================================================================

_CENTROID_ORACLE = f"""
WITH u AS (
  SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, generate_series(1, {_DIM}) AS g(i))
SELECT label, CAST(pos AS BIGINT) AS pos,
       round(avg(v), 6) AS centroid_val,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM u GROUP BY label, pos
"""


@query("embedding_centroids", _CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (elementwise mean) — the building
    block for IVF training at full-corpus scale, class prototypes, and
    drift monitoring. posexplode -> groupBy (label, position) mean: the
    shuffle key is (label, pos) — DIM×labels cells, perfectly even, with
    map-side partial aggregation absorbing the explosion. Emitted as one
    row per (label, pos) scalar; reassemble with
    transform(array_sort(collect_list(struct(pos, val)))) when an array
    column is needed downstream."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("bigint").alias("pos"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


_TRIMMED_MEAN_ORACLE = """
WITH s AS (
  SELECT c_mktsegment,
         list(c_acctbal ORDER BY c_acctbal) AS l,
         COUNT(*) AS n,
         CAST(floor(COUNT(*) * 0.1) AS BIGINT) AS k
  FROM customer GROUP BY c_mktsegment),
t AS (
  SELECT c_mktsegment,
         CASE WHEN n > 2 * k THEN l[k + 1 : n - k] ELSE l END AS kept,
         n
  FROM s)
SELECT c_mktsegment,
       round(list_avg(kept), 4) AS trimmed_mean,
       CAST(len(kept) AS BIGINT) AS n_used,
       CAST(n AS BIGINT) AS n_total
FROM t
"""


@query("trimmed_mean_acctbal", _TRIMMED_MEAN_ORACLE)
def trimmed_mean_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pandas-UDF (applyInPandas) aggregate path, oracle-checked:
    10%-trimmed mean of customer balance per market segment. Proves the
    Arrow UDAF contract end-to-end against an engine-independent
    definition — the slot a model-scoring UDF drops into. Groups are
    segment-sized (bounded cardinality), the documented applyInPandas
    regime."""
    from etl_bigquery_pipeline_spark.functions.pandas_udfs import (
        trimmed_mean_by_group,
    )

    c = _t(spark, sf_dir, "customer")
    out = trimmed_mean_by_group(
        c, "c_mktsegment", "c_acctbal", trim_frac=0.1
    )
    return out.select(
        "c_mktsegment",
        F.round("trimmed_mean", 4).alias("trimmed_mean"),
        "n_used",
        "n_total",
    )


_PERCENTILE_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@query("percentile_lineitem", _PERCENTILE_ORACLE)
def percentile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per return flag (identical to
    DuckDB `quantile_cont`, linear interpolation), computed via the
    value-frequency histogram (`windows.exact_percentiles`): Spark's
    percentile() holds a per-group value->count map inside every
    partial-aggregation task — the exact plan that OOMed
    stats_aggregates at sf10 (r8 sweep; this query survived at 77s,
    one decade from the same wall — r8 verdict ask #2). The histogram
    plan bounds task state by distinct values with map-side combine.
    At 100 TB swap in approx_percentile (t-digest sketch, mergeable,
    one pass) and gate it like approx_distinct_error."""
    li = _t(spark, sf_dir, "lineitem")
    names = ["p25", "p50", "p75", "p99"]
    g = windows.exact_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.75, 0.99], names
    )
    return g.select(
        "l_returnflag", *[F.round(n, 4).alias(n) for n in names]
    )


@query("salted_join_parity", "SELECT true AS salted_matches")
def salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the skew tooling: salted_join(orders, customer)
    must equal the plain join row-for-row (inner, 8 salt buckets). Emits
    one boolean with a trivial oracle; the skew-spread behavior itself is
    asserted in tests/test_skew.py."""
    from etl_bigquery_pipeline_spark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_mktsegment"
    )
    salted = salted_join(
        o.withColumnRenamed("o_custkey", "k"),
        c.withColumnRenamed("c_custkey", "k"),
        ["k"],
        buckets=8,
    ).select("o_orderkey", "c_mktsegment")
    diff = salted.exceptAll(plain).unionAll(plain.exceptAll(salted))
    return diff.agg((F.count(F.lit(1)) == 0).alias("salted_matches"))


_ROLLING_ORACLE = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@query("events_rolling_1h", _ROLLING_ORACLE)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour per-user rolling window (RANGE frame over event
    time): count + exact decimal sum of value — the feature-engineering
    shape (trailing activity counts) that tumbling/sliding windows can't
    express because every event anchors its own frame. One shuffle on
    user_id, then a linear per-user scan; the frame is bounded by the
    time range, not row count, so hot users stay O(events-in-window)."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("sum_trailing_1h"),
    )


_HISTOGRAM_ORACLE = """
SELECT CAST(floor(p_retailprice / 10) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(MIN(p_retailprice), 2) AS lo,
       round(MAX(p_retailprice), 2) AS hi
FROM part GROUP BY 1
"""


@query("price_histogram", _HISTOGRAM_ORACLE)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of part prices (10-unit buckets): the
    single-shuffle distribution profile used before choosing join
    strategies and skew thresholds. Bucket count is bounded by the value
    range — the groupBy key space stays tiny at any data scale."""
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.floor(F.col("p_retailprice") / 10).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("p_retailprice"), 2).alias("lo"),
            F.round(F.max("p_retailprice"), 2).alias("hi"),
        )
    )


_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2),
b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
spine AS (
  SELECT p.prio, CAST(u.day AS DATE) AS day
  FROM (SELECT DISTINCT prio FROM daily) p
  CROSS JOIN (
    SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
                                  INTERVAL 1 DAY)) AS day) u)
SELECT s.prio, s.day,
       round(CAST(last_value(d.rev IGNORE NULLS) OVER (
           PARTITION BY s.prio ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
         AS revenue_filled,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_orders,
       d.rev IS NULL AS gap_filled
FROM spine s LEFT JOIN daily d ON s.prio = d.prio AND s.day = d.day
"""


@query("daily_revenue_gapfilled", _GAPFILL_ORACLE)
def daily_revenue_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling with forward fill: daily revenue per order
    priority on a dense calendar, missing days carrying the last observed
    value — the reporting/feature-store shape (sequence + explode builds
    the spine; last(ignorenulls) over an ordered window fills).

    Scale shape: the daily aggregate is (priorities x days) rows — tiny at
    any corpus scale — so the spine cross join and the fill window both
    run on aggregated data; the only full-data pass is the first groupBy."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("__rev"),
        F.count(F.lit(1)).alias("__n"),
    )
    bounds = daily.agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    spine = (
        daily.select("prio")
        .distinct()
        .crossJoin(bounds)  # 1-row bounds: sanctioned scalar cross join
        .select(
            "prio",
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day"),
        )
    )
    joined = spine.join(daily, ["prio", "day"], "left")
    w = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "prio",
        "day",
        F.round(
            F.last("__rev", ignorenulls=True).over(w).cast("double"), 4
        ).alias("revenue_filled"),
        F.coalesce(F.col("__n"), F.lit(0)).alias("n_orders"),
        F.col("__rev").isNull().alias("gap_filled"),
    )


@query("approx_percentile_error", "SELECT true AS error_ok")
def approx_percentile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-enforceable t-digest gate: approx_percentile (the mergeable
    one-pass sketch that replaces exact per-group sorts at 100 TB) must
    land within 1% of the exact interpolated median. Completes the
    approx-family gates next to approx_distinct_error and the ANN recall
    checks."""
    li = _t(spark, sf_dir, "lineitem")
    # the exact arm uses the histogram plan (state bounded by distinct
    # values) — percentile()'s per-task buffer is the r8 sf10 OOM class;
    # gcol=None routes the cumulative count through
    # with_running_sums ungrouped (no single-partition window)
    exact = windows.exact_percentiles(
        li, None, "l_extendedprice", [0.5], ["__exact"]
    )
    approx = li.agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias(
            "__approx"
        )
    )
    return approx.crossJoin(F.broadcast(exact)).select(
        (
            F.abs(F.col("__approx") - F.col("__exact"))
            <= 0.01 * F.abs(F.col("__exact"))
        ).alias("error_ok")
    )


_FUNNEL_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, ts AS buy_ts FROM events WHERE event_type = 'purchase'),
conv AS (
  SELECT c.user_id, c.click_ts, min(p.buy_ts) AS first_buy_ts
  FROM clicks c JOIN purchases p
    ON c.user_id = p.user_id
   AND p.buy_ts > c.click_ts
   AND p.buy_ts <= c.click_ts + INTERVAL 1 HOUR
  GROUP BY c.user_id, c.click_ts)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_converting_clicks,
       ((2 * CAST(SUM(epoch_us(first_buy_ts - click_ts)) AS BIGINT)
         + 100 * COUNT(*)) // (200 * COUNT(*))) / 10000.0
         AS avg_secs_to_buy
FROM conv GROUP BY user_id
"""


@query("funnel_click_to_purchase", _FUNNEL_ORACLE)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: per user, clicks that convert to a purchase
    within 1 hour, with the mean time-to-convert. The range join plans as
    an equi join on user_id plus a time-band residual filter — never a
    product — and the min-per-click aggregate absorbs multiple purchases
    in the window. The standard behavioral-analytics shape (A-then-B
    within T) that windowed aggregates can't express."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("__bu"), F.col("ts").alias("buy_ts")
    )
    conv = (
        clicks.join(
            buys,
            (F.col("user_id") == F.col("__bu"))
            & (F.col("buy_ts") > F.col("click_ts"))
            & (
                F.col("buy_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .groupBy("user_id", "click_ts")
        .agg(F.min("buy_ts").alias("first_buy_ts"))
    )
    # Exact-integer mean, rounded to 4 decimals in INTEGER arithmetic:
    # the generator's microsecond gaps routinely end in ...50, i.e.
    # exact HALF-ties at the 4th decimal, and round(double, 4) is
    # engine-defined on ties (Spark HALF_UPs the shortest decimal
    # repr, DuckDB rounds the binary value) — five users disagreed at
    # sf1.0 (round-6 sweep). (2*sum_us + 100*n) div (200*n) is
    # half-up in 1e-4-second units with no float in sight; the final
    # /10000.0 is one correctly-rounded IEEE op on identical integers,
    # so both engines emit the identical double. Non-tie values are
    # unchanged vs round(avg, 4).
    agg = conv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_converting_clicks"),
        F.sum(
            F.unix_micros("first_buy_ts") - F.unix_micros("click_ts")
        ).alias("__us"),
    )
    return agg.select(
        "user_id",
        "n_converting_clicks",
        (
            F.expr(
                "(2 * __us + 100 * n_converting_clicks)"
                " div (200 * n_converting_clicks)"
            )
            / F.lit(10000.0)
        ).alias("avg_secs_to_buy"),
    )


@query("sketch_gates", "SELECT true AS bloom_ok, true AS freq_ok")
def sketch_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gates for the two remaining sketch primitives.

    Bloom filter (df.stat.bloomFilter — the structure behind runtime
    bloom-filter join pruning at scale): must show ZERO false negatives
    over known keys and a false-positive rate within ~5x the configured
    fpp over guaranteed-absent keys. Frequent items (df.stat.freqItems,
    Misra-Gries family): the true modal value must appear in the sketch's
    candidate set at a support below its actual frequency. Both are
    verified with bounded driver-side probes (the sketches themselves are
    driver objects, like any trained model artifact) and emitted as one
    boolean row with a trivial oracle.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n_keys = c.count()
    # PySpark doesn't surface Dataset.stat.bloomFilter — reach the JVM
    # implementation (the same structure runtime bloom joins build)
    jbf = c._jdf.stat().bloomFilter(
        "c_custkey", int(max(n_keys, 1000)), 0.01
    )
    probe = [r.c_custkey for r in c.select("c_custkey").limit(2000).collect()]
    max_key = c.agg(F.max("c_custkey")).first()[0]
    absent = [max_key + i for i in range(1, 2001)]
    false_neg = sum(0 if jbf.mightContainLong(k) else 1 for k in probe)
    false_pos = sum(1 if jbf.mightContainLong(k) else 0 for k in absent)
    bloom_ok = false_neg == 0 and false_pos <= 0.05 * len(absent)

    freq = o.stat.freqItems(["o_orderpriority"], support=0.15).first()[0]
    top = (
        o.groupBy("o_orderpriority")
        .count()
        .orderBy(F.desc("count"), "o_orderpriority")
        .first()[0]
    )
    return literal_frame(
        spark,
        [(bool(bloom_ok), bool(top in freq))],
        "bloom_ok boolean, freq_ok boolean",
    )


# ---- near-dup cluster closure: pairs -> components -> canonicals ----

@query("minhash_cluster_canonicals", _CLUSTERS_ORACLE)
def minhash_cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: minhash LSH pairs closed into
    connected components (iterative min-label propagation —
    dedup.near_dup_clusters), the decision layer a production dedup
    pipeline needs because pairwise matches chain (A~B~C must keep ONE
    document, even though A and C never matched directly)."""
    corpus = _planted_corpus(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, threshold=0.6,
        max_band_bucket=None,  # exact-recall parity with the SQL replay
    )
    return dedup.near_dup_clusters(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


# ---- SCD2 dimension history over the customer dimension ----

_SCD2_ORACLE = """
WITH dim AS (
  SELECT *, DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         true AS is_current
  FROM customer),
upd AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
  UNION ALL
  SELECT c_custkey + 1000000000000, c_name || ' (new)', c_nationkey,
         c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey < 10),
versioned AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
SELECT c_custkey, c_name, c_acctbal, valid_from, valid_to, is_current FROM (
  SELECT c_custkey, c_name, c_acctbal, valid_from, valid_to, is_current
  FROM dim WHERE c_custkey NOT IN (SELECT c_custkey FROM versioned)
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, valid_from,
         DATE '2024-06-01' AS valid_to, false AS is_current
  FROM dim WHERE c_custkey IN (SELECT c_custkey FROM versioned)
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, DATE '2024-06-01', CAST(NULL AS DATE), true
  FROM upd WHERE c_custkey IN (SELECT c_custkey FROM versioned)
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, DATE '2024-06-01', CAST(NULL AS DATE), true
  FROM upd WHERE c_custkey >= 1000000000000)
"""


@query("scd2_customer_history", _SCD2_ORACLE)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge (operators/scd.py) on the customer dimension: a CDC
    batch that changes acctbal for keys %7 (old version closed at the
    effective date + new version opened), repeats current values for keys
    %11 (must be a NO-OP — no version churn), and inserts 10 brand-new
    keys. The reference only truncate-reloads its warehouse
    (/root/reference/dags/etl_pipeline.py:202-218); this is the history-
    keeping upgrade of that load path."""
    c = _t(spark, sf_dir, "customer")
    dim = scd.scd2_init(c, valid_from="2024-01-01")
    changed = c.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100
        ).otherwise(F.col("c_acctbal")),
    ).filter((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0))
    # planted-key offset must exceed the keyspace at ANY sf (custkey hit
    # 1.5M at sf10 and the old +1e6 collided: the synthetic inserts
    # became updates of real rows and 552k spurious versions appeared in
    # the oracle — caught by the r7 sf10 sweep as a 3.7% row-count drift
    # in scd2_point_in_time_join). 1e12 is out of keyspace forever.
    inserts = c.filter(F.col("c_custkey") < 10).select(
        (F.col("c_custkey") + 1_000_000_000_000).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit(" (new)")).alias("c_name"),
        *[F.col(x) for x in ("c_nationkey", "c_acctbal", "c_mktsegment")],
    )
    updates = changed.unionByName(inserts)
    merged = scd.scd2_apply(
        dim, updates, ["c_custkey"], effective_date="2024-06-01"
    )
    return merged.select(
        "c_custkey", "c_name", "c_acctbal", "valid_from", "valid_to", "is_current"
    )


# ---- Z-order layout key over the fact table ----

_ZORDER_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CAST(l_partkey AS BIGINT) & 65535 AS a0,
         CAST(l_suppkey AS BIGINT) & 65535 AS b0
  FROM lineitem),
r1 AS (SELECT *, (a0 | (a0 << 8)) & 16711935 AS a1,
                 (b0 | (b0 << 8)) & 16711935 AS b1 FROM base),
r2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
                 (b1 | (b1 << 4)) & 252645135 AS b2 FROM r1),
r3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
                 (b2 | (b2 << 2)) & 858993459 AS b3 FROM r2),
r4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
                 (b3 | (b3 << 1)) & 1431655765 AS b4 FROM r3)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       a4 | (b4 << 1) AS zkey
FROM r4
"""


@query("zorder_lineitem_keys", _ZORDER_ORACLE)
def zorder_lineitem_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout key over (l_partkey, l_suppkey) — the
    clustering device that makes parquet min-max statistics prune on BOTH
    columns at once (operators/layout.py; what Delta/Iceberg OPTIMIZE
    ZORDER BY computes). Pure JVM bit arithmetic, replayed bit-for-bit by
    the oracle's magic-number CTE chain; the pruning effect itself is
    asserted on real parquet footers in tests/test_operators.py."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        layout.zorder_key("l_partkey", "l_suppkey"),
    )


# ---- product quantization: compressed-code ANN + recall gate ----


@query("pq_cosine_topk")
def pq_cosine_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): vectors compressed to
    8 four-bit codes, ADC scan over the codes, exact-cosine rerank of the
    top-50 approximate candidates. The memory-bandwidth member of the ANN
    family (LSH prunes by bucket, IVF by trained cell, PQ shrinks the
    bytes every scanned row costs ~30x). Rows-only: k-means codebooks are
    not SQL-replicable; recall is gated by pq_recall_vs_exact."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = _ann_panel(emb, 50)
    # Constant-FRACTION rerank (top 10% of the ADC scan, floor 50), not a
    # constant count: 8x4-bit codes hold ~the same neighbors-per-code
    # density as the corpus grows, so a fixed 50-candidate rerank covers
    # a shrinking fraction and recall decays with scale (measured 0.78 ->
    # 0.50 at 4x corpus, sf0.1 sweep round 6; 10% restores 0.815). The
    # count() is a cheap single-column scan; at the driver's sf0.001/0.01
    # scales the floor keeps results bit-identical to the old rerank=50.
    rerank = max(50, -(-emb.count() // 10))
    out = pq.pq_topk(
        emb, queries_df, k=5, rerank=rerank, id_col="vec_id",
        vec_col="embedding", query_id_col="query_id", m=8, codebook_k=16,
        seed=42,
    )
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rnk")
    )


@query("pq_recall_vs_exact", "SELECT true AS recall_ok")
def pq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality gate: with a 50-candidate exact rerank, the compressed
    scan must recover >= 0.7 of the exact top-5 (ADC over 16-centroid
    nibbles is a much finer approximation than cell/bucket pruning, so
    the bar sits above the IVF gate's 0.3)."""
    exact = QUERIES["similarity_topk"](spark, sf_dir)
    approx = QUERIES["pq_cosine_topk"](spark, sf_dir)
    return similarity.recall_ok(
        exact,
        approx.select("query_id", "neighbor_id"),
        0.7,
    )


# ===================================================================
# Tier — incremental curation: cross-corpus dedup, mixture resampling,
# boilerplate profiling, skew diagnosis, anomaly detection
# ===================================================================


_MIXTURE_ORACLE = f"""
WITH b AS (
  SELECT source,
         substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents),
v AS (SELECT source, ({_hex8_to_int_sql('h')}) % 10000 AS bucket FROM b),
s AS (
  SELECT source FROM v
  WHERE bucket < CASE WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0
                      THEN 10000 ELSE 2500 END)
SELECT source, COUNT(*) AS n_docs FROM s GROUP BY source
"""


@query("mixture_resample_counts", _MIXTURE_ORACLE)
def mixture_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: even-numbered sources keep 100%, odd
    keep 25%, membership decided by md5(doc_id) (operators/
    sampling.resample_to_mixture) so the sample is identical on any
    cluster/partitioning and the oracle replays it exactly. The fraction
    table is config-sized (distinct sources — a production pipeline
    passes it in; here it is derived from the dimension itself)."""
    from etl_bigquery_pipeline_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    srcs = [r["source"] for r in d.select("source").distinct().collect()]
    fractions = {s: (1.0 if int(s[3:]) % 2 == 0 else 0.25) for s in srcs}
    out = sampling.resample_to_mixture(
        d, "source", fractions, "doc_id", salt="mix"
    )
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


_TOKJOIN_SQL = (
    "md5(array_to_string(list_filter(regexp_split_to_array(text, '\\s+'),"
    " x -> x <> ''), ' '))"
)

_INC_EXACT_ORACLE = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id, text FROM docs WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM docs WHERE doc_id % 5 = 1 AND doc_id < 125),
corpus AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 <> 0),
bh AS (SELECT doc_id, {_TOKJOIN_SQL} AS h FROM batch),
ch AS (SELECT DISTINCT {_TOKJOIN_SQL} AS h FROM corpus)
SELECT MIN(bh.doc_id) AS doc_id
FROM bh LEFT JOIN ch ON bh.h = ch.h
WHERE ch.h IS NULL
GROUP BY bh.h
"""


@query("incremental_exact_dedup", _INC_EXACT_ORACLE)
def incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time exact dedup: a new batch (every 5th doc, plus 25
    planted copies of existing corpus documents) deduped against the
    already-accepted corpus and within itself
    (operators/dedup.dedup_exact_against_corpus). The planted copies must
    all be dropped; survivors are the batch's genuinely novel hashes."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter((F.col("doc_id") % 5 == 1) & (F.col("doc_id") < 125)).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).unionAll(planted)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return dedup.dedup_exact_against_corpus(batch, corpus, "doc_id", "text")


_INC_MINHASH_ORACLE = """
WITH docs AS (SELECT doc_id, text FROM documents),
sides AS (
  SELECT 'b' AS side, doc_id, text FROM docs WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 'b', doc_id + 3000000, text || ' qqq tail'
  FROM docs WHERE doc_id % 5 = 1 AND doc_id < 125
  UNION ALL
  SELECT 'c', doc_id, text FROM docs WHERE doc_id % 5 <> 0),
toks AS (
  SELECT side, doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM sides),
sh AS (
  SELECT side, doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(t) - 2, 1))]) AS s
  FROM toks),
sig AS (
  SELECT side, doc_id, s,
         [list_min([substring(md5(CAST(k // 4 AS VARCHAR) || ':' || x),
                              (k % 4) * 8 + 1, 8) for x in s])
          for k in generate_series(0, 15)] AS sg
  FROM sh),
bands AS (
  SELECT side, doc_id, gs.b AS band,
         md5(CAST(gs.b AS VARCHAR) || '|' || array_to_string(sg[gs.b*4+1 : gs.b*4+4], ',')) AS band_key
  FROM sig CROSS JOIN generate_series(0, 3) AS gs(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS batch_id, r.doc_id AS corpus_id
  FROM bands l JOIN bands r
    ON l.band_key = r.band_key AND l.band = r.band
  WHERE l.side = 'b' AND r.side = 'c'),
scored AS (
  SELECT batch_id, corpus_id,
         round(len(list_intersect(a.s, b.s)) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard_sim
  FROM cand
  JOIN sh a ON cand.batch_id = a.doc_id AND a.side = 'b'
  JOIN sh b ON cand.corpus_id = b.doc_id AND b.side = 'c')
SELECT batch_id, corpus_id, jaccard_sim FROM scored WHERE jaccard_sim >= 0.6
"""


@query("incremental_minhash_dedup", _INC_MINHASH_ORACLE)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup: the new batch (every 5th doc, plus 25
    planted near-copies of corpus documents with a 2-token suffix) LSH-
    joined against the existing corpus only — batch x corpus band-bucket
    collisions, exact-Jaccard verified at >= 0.6
    (operators/dedup.near_dup_against_corpus). The oracle replays the
    identical md5 minhash pipeline on both sides."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter((F.col("doc_id") % 5 == 1) & (F.col("doc_id") < 125)).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqq tail")).alias("text"),
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).unionAll(planted)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return dedup.near_dup_against_corpus(
        batch, corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, threshold=0.6,
        # exact-recall parity with the SQL replay (production default: 1000)
        max_band_bucket=None,
    )


_BOILER_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+1], ' ')
                        for i in generate_series(1, greatest(len(t) - 1, 1))]) AS s
  FROM toks),
ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
nd AS (SELECT COUNT(*) AS n_docs FROM sh),
dfq AS (SELECT sg, COUNT(*) AS dfc FROM ex GROUP BY sg),
boiler AS (SELECT sg FROM dfq, nd WHERE dfc >= n_docs * 0.05),
pb AS (
  SELECT doc_id, COUNT(*) AS n_boiler FROM ex
  WHERE sg IN (SELECT sg FROM boiler)
  GROUP BY doc_id),
base AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles FROM sh)
SELECT base.doc_id, n_shingles,
       CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
       round(COALESCE(n_boiler, 0) / CAST(n_shingles AS DOUBLE), 6) AS boiler_ratio,
       COALESCE(n_boiler, 0) / CAST(n_shingles AS DOUBLE) <= 0.5 AS keep
FROM base LEFT JOIN pb ON base.doc_id = pb.doc_id
"""


@query("boilerplate_shingle_ratio", _BOILER_ORACLE)
def boilerplate_shingle_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate profile: per-document fraction of word-2-gram
    shingles whose corpus document-frequency is >= 5% of all documents
    (operators/dedup.boilerplate_shingle_stats). The boilerplate set is
    bounded by shingles-per-doc / df_frac — a constant — so it broadcasts
    at any corpus size; n_docs is a 1-row aggregate, never a driver
    count."""
    d = _t(spark, sf_dir, "documents")
    return dedup.boilerplate_shingle_stats(
        d, "doc_id", "text", shingle_n=2, df_frac=0.05, max_ratio=0.5
    )


_HEAVY_ORACLE = """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
t AS (SELECT COUNT(*) AS total FROM events),
k AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 20)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rnk,
       round(n / CAST(total AS DOUBLE), 6) AS share,
       round(SUM(n) OVER (ORDER BY n DESC, user_id ROWS UNBOUNDED PRECEDING)
             / CAST(total AS DOUBLE), 6) AS cum_share
FROM k, t
"""


@query("heavy_hitter_users", _HEAVY_ORACLE)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis: exact top-20 users by event count with share and
    cumulative share (operators/skew.heavy_hitters). Top-k is
    orderBy+limit (TakeOrdered — per-partition k, no global sort); the
    window runs over the 20 survivors only. This is the profile that
    decides salting/broadcast strategy before a user_id join."""
    from etl_bigquery_pipeline_spark.operators import skew

    e = _t(spark, sf_dir, "events")
    return skew.heavy_hitters(e, ["user_id"], k=20)


_ANOMALY_ORACLE = """
WITH d AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
w AS (
  SELECT day, rev,
         AVG(rev) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS mu,
         STDDEV_SAMP(rev) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sd
  FROM d)
SELECT day, round(rev, 2) AS revenue,
       round((rev - mu) / NULLIF(sd, 0), 4) AS zscore,
       COALESCE(abs((rev - mu) / NULLIF(sd, 0)) > 2.5, false) AS is_anomaly
FROM w
"""


@query("daily_revenue_anomalies", _ANOMALY_ORACLE)
def daily_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each day's revenue z-scored
    against the mean/stddev of the prior 7 days. The window is global but
    runs over the DAILY AGGREGATE — one row per distinct date, a few
    thousand rows for any business horizon regardless of raw-event scale,
    so the single-partition frame is bounded by the calendar, not the
    data. The raw-table groupBy before it is the only real shuffle."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    mu = F.avg("rev").over(w)
    sd = F.stddev_samp("rev").over(w)
    z = F.try_divide(F.col("rev") - mu, F.nullif(sd, F.lit(0.0)))
    return daily.select(
        "day",
        F.round("rev", 2).alias("revenue"),
        F.round(z, 4).alias("zscore"),
        F.coalesce(F.abs(z) > 2.5, F.lit(False)).alias("is_anomaly"),
    )


# ===================================================================
# Tier — grouped robust statistics & ordered aggregation
# ===================================================================

_MEDIAN_MODE_ORACLE = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY 1, 2),
m AS (
  SELECT o_orderstatus, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY n DESC, o_orderpriority) AS rn
  FROM c),
md AS (
  SELECT o_orderstatus, round(median(o_totalprice), 2) AS median_price,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT md.o_orderstatus, md.median_price, md.n_orders,
       m.o_orderpriority AS mode_priority
FROM md JOIN m ON md.o_orderstatus = m.o_orderstatus AND m.rn = 1
"""


@query("median_mode_by_status", _MEDIAN_MODE_ORACLE)
def median_mode_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped robust statistics: exact interpolated median price and the
    modal order priority per status. Spark's mode() breaks frequency ties
    arbitrarily, so the mode is computed deterministically instead: count
    per (status, priority) — a tiny key space — then rank by (count desc,
    value asc). Two narrow shuffles over low-cardinality keys. The
    median runs the value-frequency histogram plan
    (`windows.exact_percentiles`), not F.median's per-task value buffer:
    o_totalprice is near-continuous over a raw fact table — the r8
    sf10 OOM class (r8 verdict ask #2)."""
    o = _t(spark, sf_dir, "orders")
    med = windows.exact_percentiles(
        o, "o_orderstatus", "o_totalprice", [0.5], ["__med"]
    )
    md = (
        o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(med), "o_orderstatus")
        .select(
            "o_orderstatus",
            F.round("__med", 2).alias("median_price"),
            "n_orders",
        )
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    mode = (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    return md.join(mode, "o_orderstatus")


_LISTAGG_ORACLE = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM region JOIN nation ON r_regionkey = n_regionkey
GROUP BY r_name
"""


@query("region_nations_listagg", _LISTAGG_ORACLE)
def region_nations_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): nations per
    region, comma-joined in name order. collect_list has no intra-group
    order guarantee, so the order is imposed with array_sort before the
    join — deterministic under any partitioning. Group count is
    dimension-sized; the payload per group is bounded."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        r.join(n, r["r_regionkey"] == n["n_regionkey"])
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


_WCD_ORACLE = """
WITH o AS (
  SELECT event_id, user_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS occ
  FROM events)
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS distinct_types_so_far
FROM o
"""


@query("windowed_count_distinct", _WCD_ORACLE)
def windowed_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — which no engine supports
    directly — via the first-occurrence trick: row_number marks each
    (user, type)'s first event, and a running sum of those markers is the
    distinct count so far. Two windows, both partitioned by user_id (one
    sub-partitioned by type): shuffles on the user key only, per-user
    linear scans."""
    e = _t(spark, sf_dir, "events")
    occ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("occ", F.row_number().over(occ))
        .select(
            "event_id",
            "user_id",
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
            .over(run)
            .cast("bigint")
            .alias("distinct_types_so_far"),
        )
    )


_SHARE_ORACLE = """
WITH rev AS (
  SELECT r_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name)
SELECT r_name, round(revenue, 2) AS revenue,
       round(revenue / SUM(revenue) OVER (), 6) AS share_of_total
FROM rev
"""


@query("revenue_share_by_region", _SHARE_ORACLE)
def revenue_share_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: regional revenue share via an unpartitioned
    window over the AGGREGATED frame (one row per region — bounded by the
    dimension, not the fact table). lineitem joins orders on their shared
    orderkey (a co-partitionable fact-fact shuffle — bucket both on
    orderkey to eliminate it); the customer->nation->region chain folds
    into one broadcast map, so the fact rows shuffle once."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = F.broadcast(
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "r_name")
    )
    rev = (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(dim, F.col("o_custkey") == dim["c_custkey"])
        .groupBy("r_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "r_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "share_of_total"
        ),
    )


_RECON_ORACLE = """
WITH a AS (
  SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey % 7 <> 0),
b AS (
  SELECT o_orderkey AS k,
         o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS v
  FROM orders WHERE o_orderkey % 3 <> 0),
j AS (
  SELECT COALESCE(a.k, b.k) AS k, a.v AS va, b.v AS vb,
         CASE WHEN a.k IS NULL THEN 'only_right'
              WHEN b.k IS NULL THEN 'only_left'
              WHEN a.v = b.v THEN 'matched_equal'
              ELSE 'matched_changed' END AS status
  FROM a FULL OUTER JOIN b ON a.k = b.k)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY status
"""


@query("snapshot_reconciliation", _RECON_ORACLE)
def snapshot_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join: two overlapping order
    snapshots (one missing every 7th key, the other missing every 3rd and
    perturbing every 5th price) classified into matched_equal /
    matched_changed / only_left / only_right. The canonical CDC-audit /
    migration-verification shape: one key shuffle, map-side classify,
    tiny grouped output."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("va")
    )
    b = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0)
        ).alias("vb"),
    )
    j = a.join(b, "k", "full_outer").select(
        F.when(F.col("va").isNull(), F.lit("only_right"))
        .when(F.col("vb").isNull(), F.lit("only_left"))
        .when(F.col("va") == F.col("vb"), F.lit("matched_equal"))
        .otherwise(F.lit("matched_changed"))
        .alias("status")
    )
    return j.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


_E2E_CURATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tok,
         {_TOKJOIN_SQL} AS h
  FROM documents),
d AS (SELECT h, MIN(doc_id) AS doc_id FROM t GROUP BY h),
kept AS (
  SELECT t.doc_id, t.source, t.n_tok
  FROM t JOIN d ON t.doc_id = d.doc_id
  WHERE t.n_tok >= 20),
hx AS (
  SELECT doc_id, source, n_tok,
         substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hm,
         substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hs
  FROM kept),
mixed AS (
  SELECT source, n_tok, ({_hex8_to_int_sql('hs')}) % 10000 AS sb
  FROM hx
  WHERE ({_hex8_to_int_sql('hm')}) % 10000
        < CASE WHEN CAST(substring(source, 4, 10) AS INT) % 2 = 0
               THEN 10000 ELSE 2500 END),
s AS (
  SELECT source, n_tok,
         CASE WHEN sb < 8000 THEN 'train'
              WHEN sb < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM mixed)
SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM s GROUP BY split, source
"""


@query("corpus_curation_pipeline", _E2E_CURATION_ORACLE)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE lazy lineage: exact dedup (min-id
    per content hash) -> token-count quality floor -> deterministic
    domain-mixture resampling -> reproducible train/val/test split ->
    per-(split, source) doc and token counts. Every stage is the already-
    oracled operator (dedup.dedup_exact_text, sampling.resample_to_mixture,
    sampling.hash_split) composed declaratively, so Catalyst sees the whole
    pipeline at once — filters and the md5 sampling predicates all run in
    the same scan stage before the two key shuffles (content-hash groupBy,
    final group-agg). The oracle replays the full chain in SQL."""
    from etl_bigquery_pipeline_spark.operators import sampling

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    deduped = dedup.dedup_exact_text(d, "doc_id", "text")
    kept = deduped.withColumn("n_tok", TX.token_count("text")).filter(
        F.col("n_tok") >= 20
    )
    srcs = [r["source"] for r in d.select("source").distinct().collect()]
    fractions = {s: (1.0 if int(s[3:]) % 2 == 0 else 0.25) for s in srcs}
    mixed = sampling.resample_to_mixture(
        kept, "source", fractions, "doc_id", salt="mix"
    )
    split = sampling.hash_split(
        mixed, "doc_id", weights={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
    )


@query("cms_heavy_hitter_gate", "SELECT true AS cms_ok")
def cms_heavy_hitter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch gate: the streaming-friendly heavy-hitter
    estimate must never under-count (CMS guarantee) and must land within
    5% over the exact counts for the true top-5 users. The sketch is a
    fixed-size mergeable aggregate (the 100 TB path: one pass, map-side
    partial sketches, bytes-sized shuffle); the exact side reuses
    skew.heavy_hitters. Probing the collected sketch is a bounded
    driver-side read of a model-artifact-sized object.

    The over-count tolerance is the sketch's own guarantee — an ADDITIVE
    eps*N bound (w.p. 1-delta over the seeded hash draw), not a relative
    one: heavy-hitter counts grow sublinearly with the stream while
    collision mass grows with N, so a fixed percentage-of-exact bar
    (the original 5%) silently tightens with scale and failed first at
    the sf0.1 sweep (over-count 50 vs eps*N=100, round 6). N comes from
    the sketch itself (totalCount), not a second scan."""
    from etl_bigquery_pipeline_spark.operators import skew

    eps = 0.001
    e = _t(spark, sf_dir, "events")
    exact = {
        r.user_id: r.n for r in skew.heavy_hitters(e, ["user_id"], k=5).collect()
    }
    sk_bytes = bytes(
        e.select(
            F.count_min_sketch(
                F.col("user_id"), F.lit(eps), F.lit(0.99), F.lit(42)
            ).alias("sk")
        ).first()["sk"]
    )
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(sk_bytes)
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bais)
    bound = eps * cms.totalCount()
    ok = all(
        n <= cms.estimateCount(int(uid)) <= n + bound
        for uid, n in exact.items()
    )
    return literal_frame(spark, [(bool(ok),)], "cms_ok boolean")


_UNIFORM_SAMPLE_ORACLE = """
SELECT doc_id, source
FROM documents
ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT 50
"""


@query("uniform_doc_sample", _UNIFORM_SAMPLE_ORACLE)
def uniform_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-sample: order by md5(key) and take k —
    a reproducible simple random sample (the md5 is the random tape), the
    eval-set / human-review draw that must come out identical on every
    engine and cluster. Executes as TakeOrdered: each partition keeps its
    k smallest hashes, the driver merges k x partitions rows — no global
    sort, no shuffle of the corpus."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source", h.alias("__h"))
        .orderBy("__h", "doc_id")
        .limit(50)
        .select("doc_id", "source")
    )


_EQUIDEPTH_ORACLE = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.50) AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders),
bucketed AS (
  SELECT CASE WHEN o_totalprice <= q1 THEN 0
              WHEN o_totalprice <= q2 THEN 1
              WHEN o_totalprice <= q3 THEN 2
              ELSE 3 END AS bucket,
         o_totalprice
  FROM orders, b)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       round(MIN(o_totalprice), 2) AS lo,
       round(MAX(o_totalprice), 2) AS hi
FROM bucketed GROUP BY bucket
"""


@query("equidepth_price_histogram", _EQUIDEPTH_ORACLE)
def equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) histogram via the two-phase scalar pattern:
    exact interpolated quartiles as a 1-row aggregate, cross-joined
    (broadcast) into a second scan that buckets every row — two passes,
    zero driver collects, no global sort. The fixed-width variant
    (price_histogram) needs one pass; equi-depth costs the extra scan in
    exchange for balanced buckets."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    # exact quartiles via the value-frequency histogram (see
    # windows.exact_percentiles): percentile()'s per-task value buffer is
    # the r8 sf10 OOM class; gcol=None keeps the corpus-proportional
    # cumulative count range-partitioned (with_running_sums) —
    # o_totalprice is near-continuous (~15M distinct at sf10), so a
    # single-partition window over its histogram is a serial funnel
    qs = windows.exact_percentiles(
        o, None, "o_totalprice", [0.25, 0.50, 0.75], ["q1", "q2", "q3"]
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        o.crossJoin(F.broadcast(qs))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_Q3_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("shipping_priority_top10", _Q3_ORACLE)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers
    broadcast into orders, date-filtered both sides so the pushed
    predicates prune at the scans, one orderkey shuffle for the grouped
    revenue, TakeOrdered for the top-10. The deterministic tie-break
    (orderdate, orderkey) keeps the limit stable across engines."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


@query("local_supplier_volume", _Q5_ORACLE)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-way join where the
    customer/supplier nations must MATCH — the classic star join with a
    cross-dimension equality. Region/nation/supplier/customer all
    broadcast (dimension-sized); the only big shuffle is lineitem-orders
    on orderkey. No date filter so the whole-year scan exercises the agg
    path."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nr = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(nr, s["s_nationkey"] == nr["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
a AS (
  SELECT DISTINCT e.user_id, f.cohort,
         date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS offset_days
  FROM events e JOIN f ON e.user_id = f.user_id)
SELECT cohort, offset_days, CAST(COUNT(*) AS BIGINT) AS n_users
FROM a GROUP BY cohort, offset_days
"""


@query("retention_cohorts", _RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day, counted
    on each later activity-day offset. First-seen is one groupBy on
    user_id; the activity join re-shuffles on the same key, so AQE can
    reuse the exchange / plan a co-located join, and the distinct before
    the final count keeps a user to one row per (cohort, offset)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff(F.col("day"), F.col("cohort")).alias("offset_days"),
        )
        .distinct()
        .groupBy("cohort", "offset_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_TRANSITION_ORACLE = """
WITH s AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events)
SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
                             AS DOUBLE), 6) AS p
FROM s WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@query("event_transition_matrix", _TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event transition matrix (Markov counts + row-normalized
    probabilities): LEAD over each user's time-ordered events, grouped on
    the (from, to) pair. One user_id shuffle for the sequence window, one
    tiny grouped output (|event types|^2 rows) whose normalizing window is
    negligible."""
    e = _t(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
    )


_WEIGHTED_SAMPLE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, n_chars,
         least(1.0, n_chars / 300.0) AS wt,
         substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents),
kept AS (
  SELECT source, n_chars FROM w
  WHERE ({_hex8_to_int_sql('h')}) % 10000 < wt * 10000)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(n_chars), 4) AS avg_chars
FROM kept GROUP BY source
"""


@query("weighted_doc_sample", _WEIGHTED_SAMPLE_ORACLE)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted sampling (operators/sampling.weighted_sample):
    keep probability proportional to document length (capped at 1), drawn
    from md5(doc_id) so the sample is deterministic and SQL-replayable.
    Longer documents survive more often — the avg_chars per source shifts
    up accordingly. Pure filter: no shuffle before the reporting agg."""
    from etl_bigquery_pipeline_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    wt = F.least(F.lit(1.0), F.col("n_chars") / 300.0)
    kept = sampling.weighted_sample(d, wt, "doc_id", salt="wsamp")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


_ASSIGN_ORACLE = f"""
WITH u AS (
  SELECT label, i AS pos,
         round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS v
  FROM embeddings, generate_series(1, {_DIM}) AS g(i)
  GROUP BY label, i),
c AS (SELECT label, list(v ORDER BY pos) AS cv FROM u GROUP BY label),
d AS (
  SELECT e.vec_id, c.label,
         list_sum([(CAST(e.embedding[i] AS DOUBLE) - cv[i])
                   * (CAST(e.embedding[i] AS DOUBLE) - cv[i])
                   for i in generate_series(1, {_DIM})]) AS d2
  FROM embeddings e CROSS JOIN c),
a AS (
  SELECT vec_id, label, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
  FROM d)
SELECT vec_id, label AS assigned_label, round(d2, 6) AS dist2
FROM a WHERE rn = 1
"""


def _cells(e: DataFrame, label: Column, *extra: Column | str) -> DataFrame:
    """One ``(label, pos, v)`` row per vector element, plus ``extra``
    columns; ``pos`` is 0-based."""
    return e.select(
        label.alias("label"), *extra,
        F.posexplode("embedding").alias("pos", "v"),
    )


def _centroid_row(cells: DataFrame) -> DataFrame:
    """Fold ``(label, pos, v, d2)`` cells into ONE row ``(cs, inertia)``.

    ``cs`` is ``array<struct<label, cv array<double>>>``, labels ascending,
    each ``cv`` the per-position mean in position order, rounded to 6
    places so the values are bit-identical across engines (summation
    order differs between Spark partials and a serial fold). ``inertia``
    is the sum of ``d2`` (NULL without one): callers set it on ``pos = 0``
    only (NULL elsewhere), so each vector's distance counts once. Any
    further column of ``cells`` must hold one value throughout and rides
    along into the row: as an extra grouping key of the cell mean (an
    array-typed ``any_value`` there would force a sort aggregate), then
    as ``any_value``. Two shuffles: the (label, pos) mean and the global
    collect."""
    carry = [c for c in cells.columns if c not in ("label", "pos", "v", "d2")]
    d2 = F.col("d2") if "d2" in cells.columns else F.lit(None).cast("double")
    per_cell = cells.groupBy("label", "pos", *carry).agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"),
        F.sum(d2).alias("d2"),
    )
    flat = per_cell.agg(
        F.array_sort(F.collect_list(F.struct("label", "pos", "cv"))).alias("cells"),
        F.sum("d2").alias("inertia"),
        *[F.any_value(c).alias(c) for c in carry],
    )
    labels = F.array_distinct(F.transform("cells", lambda c: c["label"]))
    cs = F.transform(
        labels,
        lambda lb: F.named_struct(
            F.lit("label"), lb,
            F.lit("cv"), F.transform(
                F.filter("cells", lambda c: c["label"] == lb), lambda c: c["cv"]
            ),
        ),
    )
    return flat.select(cs.alias("cs"), "inertia", *carry)


def _assign(e: DataFrame, row: DataFrame) -> DataFrame:
    """``e`` plus ``row``'s columns but ``cs``, plus ``m = struct(d2,
    label)`` of the nearest centroid in ``row.cs`` by squared L2.

    The one-row centroid frame broadcasts; the argmin is ``array_min``
    over the per-centroid structs, so ties break on the smaller label
    exactly like ``min(struct(d2, label))`` but with no ``groupBy`` on the
    vector id: the corpus never shuffles. ``named_struct``, not an
    aliased ``struct``: inside the lambda the alias is lost (``col1``)."""
    def d2(cv):
        return F.aggregate(
            F.zip_with(
                "embedding", cv,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    m = F.array_min(
        F.transform(
            "cs",
            lambda c: F.named_struct(
                F.lit("d2"), d2(c["cv"]), F.lit("label"), c["label"]
            ),
        )
    )
    return e.crossJoin(F.broadcast(row)).withColumn("m", m).drop("cs")


@query("centroid_assignment", _ASSIGN_ORACLE)
def centroid_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means E-step as pure DataFrame algebra: per-label centroids
    (posexplode mean, 6-decimal-rounded for cross-engine determinism)
    folded into one broadcast row, squared-L2 via zip_with/aggregate —
    all JVM-side, no UDF — argmin via array_min(struct(d2, label)). The
    corpus never shuffles: only the K x dim centroid cells do."""
    e = _t(spark, sf_dir, "embeddings")
    cent = _centroid_row(_cells(e, F.col("label")))
    return _assign(e, cent).select(
        "vec_id",
        F.col("m.label").alias("assigned_label"),
        F.round("m.d2", 6).alias("dist2"),
    )


_LLOYD_ROUNDS = 3


def kmeans_inertia_history(e: DataFrame) -> DataFrame:
    """Lloyd's algorithm from the per-label centroids of ``e`` (vec_id,
    embedding, label): one row ``(cs, hist)`` with the centroids after
    ``_LLOYD_ROUNDS`` rounds and ``hist``, the inertia of each round's
    assignment (against that round's starting centroids).

    A round is one eager ``localCheckpoint`` of a one-row frame: assign
    against the broadcast previous row (no shuffle), then re-center and
    sum the inertia in the same two aggregations. The history rides in
    the row, so no per-round frame is kept and nothing corpus-sized is
    cached; each superseded checkpoint is released once the next one is
    materialized."""
    no_hist = F.array().cast("array<double>").alias("hist")
    row = _centroid_row(_cells(e, F.col("label"), no_hist)).localCheckpoint()
    for _ in range(_LLOYD_ROUNDS):
        a = _assign(e, row).select("embedding", "hist", "m")
        # the argmin is evaluated above, once per vector: computed inside
        # the exploding select it would run once per element
        cells = _cells(a, F.col("m.label"), "hist", F.col("m.d2").alias("__d2"))
        cells = cells.select(
            "label", "pos", "v", "hist",
            F.when(F.col("pos") == 0, F.col("__d2")).alias("d2"),
        )
        nxt = _centroid_row(cells).select(
            "cs", F.concat("hist", F.array("inertia")).alias("hist")
        ).localCheckpoint()
        release_checkpoint(row)
        row = nxt
    return row


def inertia_monotone(hist: Column) -> Column:
    """True when every inertia in ``hist`` is at most the one before it
    (Lloyd's guarantee), with a relative tolerance for float merge order."""
    return F.forall(
        F.zip_with(
            F.slice(hist, 1, F.greatest(F.size(hist) - 1, F.lit(0))),
            F.slice(hist, 2, F.size(hist)),
            lambda a, b: b <= a * (1 + 1e-9),
        ),
        lambda ok: ok,
    )


@query("kmeans_inertia_gate", "SELECT true AS inertia_monotone")
def kmeans_inertia_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's algorithm on DataFrames — the iterative-algorithm pattern:
    3 rounds of assign (broadcast one-row centroids, zip_with distance,
    array_min argmin) -> re-center (posexplode mean over the new
    assignment), each round one eager checkpoint of a one-row frame
    (kmeans_inertia_history). Gate: inertia must be non-increasing
    (Lloyd guarantee — violated only if the steps are miswired), checked
    in-plan over the carried history with a tolerance for float merge
    order. The returned plan reads only the last checkpoint."""
    row = kmeans_inertia_history(_t(spark, sf_dir, "embeddings"))
    return row.select(inertia_monotone(F.col("hist")).alias("inertia_monotone"))


@query("band_index_probe_matches", "SELECT true AS band_probe_matches")
def band_index_probe_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-band-index gate: build the bucketed minhash band index
    over the corpus once (operators/dedup.build_band_index), probe it
    with a batch containing planted near-copies, and require the
    candidate pair set to EQUAL the direct operator's band collisions
    (same md5 pipeline ⇒ identical band keys ⇒ identical candidates; the
    persisted path only changes WHERE the corpus signatures come from).
    Also requires every exact-verified near-dup pair to appear among the
    index candidates. One boolean row, trivial oracle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter((F.col("doc_id") % 5 == 1) & (F.col("doc_id") < 125)).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqq tail")).alias("text"),
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).unionAll(planted)
    corpus = d.filter(F.col("doc_id") % 5 != 0)

    # ONE tokenize/signature/band pass per side, shared by every consumer
    # (build, probe, direct verify, and the `want` collision set) — the
    # r10 shape re-ran the md5 pipeline 3x per side (guide §2.4: remove
    # redundant passes before tuning anything else). The gate still
    # compares the PERSISTED path (parquet round-trip, bucket-pruned
    # scan, broadcast probe) against the in-memory join — sharing the
    # upstream hashing does not weaken that comparison, both paths ran
    # the same hashing code before too.
    sh_b, sig_b, bk_b = dedup._shingles_and_bands(
        batch, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    )
    sh_c, sig_c, bk_c = dedup._shingles_and_bands(
        corpus, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    )
    sig_b, bk_b, bk_c = (
        scoped_cache(sig_b), scoped_cache(bk_b), scoped_cache(bk_c),
    )

    dedup.build_band_index(corpus, "band_idx_catalog", signatures=sig_c)
    probe = dedup.near_dup_candidates_from_index(
        spark, batch, "band_idx_catalog", max_band_bucket=None,
        signatures=sig_b,
    )
    got = scoped_cache(probe.select("batch_id", "corpus_id"))
    want = scoped_cache(
        bk_b.alias("l")
        .join(
            bk_c.alias("r"),
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.band") == F.col("r.band")),
        )
        .select(
            F.col("l.doc_id").alias("batch_id"),
            F.col("r.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    # the direct operator's verified pairs are exactly the exact-Jaccard
    # cut over these same collisions (near_dup_against_corpus's verify
    # step given cands == want), so verify FROM the cached collision set
    # instead of re-running the bk_b x bk_c join inside the operator
    direct = (
        want.join(
            sh_b.select(
                F.col("doc_id").alias("batch_id"), F.col("__sh").alias("__sh_a")
            ),
            "batch_id",
        )
        .join(
            sh_c.select(
                F.col("doc_id").alias("corpus_id"), F.col("__sh").alias("__sh_b")
            ),
            "corpus_id",
        )
        .filter(
            F.round(dedup.jaccard(F.col("__sh_a"), F.col("__sh_b")), 6)
            >= F.lit(0.6)
        )
    )
    # both sides are DISTINCT pair sets, so set equality is one full
    # outer join counting one-sided rows — the r10 two-arm exceptAll
    # shuffled each set twice and aggregated twice (guide §2.4)
    cand_mismatch = (
        got.withColumn("__g", F.lit(1))
        .join(
            want.withColumn("__w", F.lit(1)),
            ["batch_id", "corpus_id"],
            "full_outer",
        )
        .filter(F.col("__g").isNull() | F.col("__w").isNull())
    )
    verified_missing = direct.select("batch_id", "corpus_id").join(
        got, ["batch_id", "corpus_id"], "left_anti"
    )
    return cand_mismatch.agg(
        (F.count(F.lit(1)) == 0).alias("__c")
    ).crossJoin(
        verified_missing.agg((F.count(F.lit(1)) == 0).alias("__v"))
    ).select((F.col("__c") & F.col("__v")).alias("band_probe_matches"))


_FUZZY_ORACLE = """
WITH n AS (SELECT DISTINCT p_name FROM part),
t AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM n),
p AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name)
SELECT name_a, name_b, CAST(dist AS BIGINT) AS dist
FROM p WHERE dist <= 2
"""


@query("fuzzy_name_pairs", _FUZZY_ORACLE)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-similarity join: distinct part names blocked on their
    first token, Levenshtein-verified at distance <= 2. The blocking
    predicate is what makes edit-distance joins survive scale — candidate
    pairs exist only within a block (same device as the n-gram Jaccard
    blocked join), and the distinct-names projection collapses the input
    to its name vocabulary before any pairing."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    t = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("bigint")
            .alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


_PSI_ORACLE = """
WITH a AS (
  SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
b AS (
  SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n
  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1),
ta AS (SELECT SUM(n) AS t FROM a),
tb AS (SELECT SUM(n) AS t FROM b),
j AS (
  SELECT COALESCE(a.bucket, b.bucket) AS bucket,
         COALESCE(a.n, 0) / CAST(ta.t AS DOUBLE) + 1e-6 AS pa,
         COALESCE(b.n, 0) / CAST(tb.t AS DOUBLE) + 1e-6 AS pb
  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket, ta, tb)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       round(SUM((pa - pb) * ln(pa / pb)), 6) AS psi,
       SUM((pa - pb) * ln(pa / pb)) > 0.1 AS drifted
FROM j
"""


@query("distribution_drift_psi", _PSI_ORACLE)
def distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two order snapshots (even/odd
    keys): fixed-width price buckets, smoothed proportions, PSI =
    sum((pa-pb)*ln(pa/pb)). The drift monitor that guards a training-data
    refresh: two grouped scans over a bounded bucket space, a full-outer
    join on the tiny bucket dim, one scalar out. Buckets are value-range
    bounded, so the plan is the same at any row count."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")

    def side(parity: int) -> DataFrame:
        return (
            o.filter(F.col("o_orderkey") % 2 == parity)
            .groupBy(bucket)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    a, b = side(0), side(1)
    ta = a.agg(F.sum("n").alias("ta"))
    tb = b.agg(F.sum("n").alias("tb"))
    j = (
        a.withColumnRenamed("n", "na")
        .join(b.withColumnRenamed("n", "nb"), "bucket", "full_outer")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "bucket",
            (
                F.coalesce(F.col("na"), F.lit(0)) / F.col("ta").cast("double")
                + 1e-6
            ).alias("pa"),
            (
                F.coalesce(F.col("nb"), F.lit(0)) / F.col("tb").cast("double")
                + 1e-6
            ).alias("pb"),
        )
    )
    term = (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
    return j.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.sum(term), 6).alias("psi"),
        (F.sum(term) > 0.1).alias("drifted"),
    )


_EWMA_ORACLE = """
WITH RECURSIVE d AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn
  FROM (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
    FROM orders GROUP BY 1)),
e AS (
  SELECT rn, day, rev, rev AS ewma FROM d WHERE rn = 1
  UNION ALL
  SELECT d.rn, d.day, d.rev, 0.9 * e.ewma + 0.1 * d.rev
  FROM d JOIN e ON d.rn = e.rn + 1)
SELECT day, round(rev, 2) AS revenue, round(ewma, 4) AS ewma
FROM e
"""


@query("ewma_daily_revenue", _EWMA_ORACLE)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over daily revenue — the
    inherently-sequential recurrence (ewma_t = 0.9*ewma_{t-1} + 0.1*x_t)
    no built-in window expresses. Computed with an Arrow-batched
    applyInPandas over the DAILY aggregate: like the anomaly query, the
    sequential series is one row per distinct date — calendar-bounded at
    any raw scale — while the raw-table groupBy before it is the only
    real shuffle. pandas ewm(adjust=False) IS this recurrence in float64,
    which the oracle replays with a recursive CTE."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    )

    schema = "day timestamp, revenue double, ewma double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ew = pdf["rev"].ewm(alpha=0.1, adjust=False).mean()
        return pd.DataFrame(
            {
                "day": pdf["day"],
                "revenue": pdf["rev"].round(2),
                "ewma": ew.round(4),
            }
        )

    return (
        daily.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(fold, schema)
    )


_CHUNK_DEDUP_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
n AS (
  SELECT doc_id, toks, len(toks) AS nt,
         greatest(CAST(ceil((len(toks) - 16) / 48.0) AS INT), 1) AS n_chunks
  FROM t),
c AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i*48 + 1 : i*48 + 64], ' ')
                 for i in generate_series(0, n_chunks - 1)]) AS chunk
  FROM n),
h AS (SELECT doc_id, md5(chunk) AS ch FROM c),
firsts AS (SELECT ch, MIN(doc_id) AS keeper FROM h GROUP BY ch)
SELECT h.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN h.doc_id > f.keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       round(SUM(CASE WHEN h.doc_id > f.keeper THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
FROM h JOIN firsts f ON h.ch = f.ch
GROUP BY h.doc_id
"""


@query("chunk_level_dedup", _CHUNK_DEDUP_ORACLE)
def chunk_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (RefinedWeb-style): chunk every document into
    the standard 64/16 windows, hash each chunk, and charge a document
    for every chunk already owned by a lower-id document. Output is the
    per-document duplicated-chunk ratio — the signal for dropping or
    trimming mostly-recycled pages that document-level dedup misses.
    Composition of the existing chunker with one md5 groupBy: the shuffle
    key is the 32-char chunk hash, never the chunk text."""
    d = _t(spark, sf_dir, "documents")
    chunks = TX.token_chunks_of(F.col("__toks"), chunk_tokens=64, overlap=16)
    h = (
        d.select("doc_id", TX.tokens("text").alias("__toks"))
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", F.md5(F.col("c.chunk")).alias("ch"))
    )
    firsts = h.groupBy("ch").agg(F.min("doc_id").alias("keeper"))
    return (
        h.join(firsts, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("doc_id") > F.col("keeper"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.round(
                F.sum(
                    F.when(F.col("doc_id") > F.col("keeper"), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


@query("approx_topk_gate", "SELECT true AS topk_ok")
def approx_topk_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k gate (Spark 4's built-in sketch-backed top-k): with an
    internal capacity that dominates the keyspace the sketch never evicts,
    so estimates are exact — but WHICH k items come back is only defined
    up to count ties. The sf1.0 sweep (round 6) caught both halves of
    that contract tuned away at sf0.01: a fixed capacity of 10k
    saturated at 15k distinct users (a saturated approx_top_k returns an
    EMPTY list, not degraded estimates), and the exact-set-equality check
    failed on a 6-way tie at the 5th-place count (6 users at n=96 for 4
    slots — the sketch's pick and heavy_hitters' deterministic tie-break
    legitimately disagree). The gate now checks what the sketch actually
    guarantees, at any scale: (a) the returned COUNT MULTISET equals the
    exact top-5 count multiset, (b) every returned estimate equals that
    user's true count (filtered 5-id re-count, pushdown-cheap), (c) every
    STRICT heavy hitter — true count above 5th place — is present.
    Capacity = max(10k, 2x count_distinct): one extra single-column agg
    for a gate; production keyspaces past the 1M-item cap should gate on
    the sketch's eps*N bound instead (cms_heavy_hitter_gate pattern).
    One pass, mergeable, fixed memory — the cheap first look before
    committing to the exact TakeOrdered profile on a 100 TB key space."""
    from etl_bigquery_pipeline_spark.operators import skew

    e = _t(spark, sf_dir, "events")
    n_users = int(
        e.select(F.count_distinct("user_id").alias("d")).first()["d"]
    )
    cap = max(10_000, 2 * n_users)
    exact = {
        r.user_id: r.n for r in skew.heavy_hitters(e, ["user_id"], k=5).collect()
    }
    approx = e.agg(
        F.expr(f"approx_top_k(user_id, 5, {cap})").alias("tk")
    ).first()["tk"]
    got = {r["item"]: r["count"] for r in approx}
    kth = min(exact.values())
    strict = {u for u, n in exact.items() if n > kth}
    true_counts = (
        {
            r.user_id: r.n
            for r in e.where(
                F.col("user_id").isin([int(u) for u in got])
            )
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if got
        else {}
    )
    ok = (
        len(got) == len(exact)
        and sorted(got.values()) == sorted(exact.values())
        and all(got[u] == true_counts.get(u) for u in got)
        and strict <= set(got)
    )
    return literal_frame(spark, [(bool(ok),)], "topk_ok boolean")


_CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(t) - 2, 1))]) AS s
  FROM toks),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.s, b.s)) / CAST(len(a.s) AS DOUBLE), 6)
           AS containment_a_in_b
  FROM sh a JOIN sh b
    ON a.doc_id <> b.doc_id AND abs(a.doc_id - b.doc_id) <= 100)
SELECT id_a, id_b, containment_a_in_b
FROM pairs WHERE containment_a_in_b >= 0.8
"""


@query("shingle_containment_pairs", _CONTAINMENT_ORACLE)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (Broder): |A ∩ B| / |A| over id-blocked
    pairs — catches a document SUBSET-quoted inside a larger one, which
    symmetric Jaccard dilutes below threshold. Directional, so both
    (a,b) and (b,a) are evaluated within the block. Same mandatory
    blocking discipline as the exact Jaccard path; the LSH route remains
    the unblocked scale path for the symmetric case."""
    d = _t(spark, sf_dir, "documents")
    sh_df = (
        widen_if_narrow(d, "doc_id")
        .select("doc_id", TX.tokens("text").alias("__toks"))
        .select(
            "doc_id", TX.shingles_of(F.col("__toks"), 3).alias("__sh")
        )
        .transform(scoped_cache)
    )
    # equi-blocking, not a theta join: a-side rows replicate into their
    # own and the next id-block, the b-side keys by its block — the join
    # is a plain hash join on the block id, and the residual distance
    # predicate filters inside matched blocks only
    a = sh_df.select(
        F.col("doc_id").alias("id_a"),
        F.col("__sh").alias("__sa"),
        F.explode(
            F.array(
                F.floor(F.col("doc_id") / 100) - 1,
                F.floor(F.col("doc_id") / 100),
                F.floor(F.col("doc_id") / 100) + 1,
            )
        ).alias("__blk"),
    )
    b = sh_df.select(
        F.col("doc_id").alias("id_b"),
        F.col("__sh").alias("__sb"),
        F.floor(F.col("doc_id") / 100).alias("__blk"),
    )
    cont = F.round(
        F.size(F.array_intersect("__sa", "__sb"))
        / F.size("__sa").cast("double"),
        6,
    )
    # BOTH sides are corpus-proportional and carry full shingle arrays
    # — the static planner broadcast one at sf10 ("Not enough memory to
    # build and broadcast", r9 sweep; the r7 minhash / r8 ngram hazard
    # class, one more member). Merge-pinned: block ids are the join key
    # on both sides, so sort-merge shuffles each side once and never
    # hash-builds a corpus-sized relation on the driver.
    return (
        a.join(b.hint("merge"), "__blk")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.abs(F.col("id_a") - F.col("id_b")) <= 100)
        )
        .select("id_a", "id_b", cont.alias("containment_a_in_b"))
        .filter(F.col("containment_a_in_b") >= 0.8)
        .distinct()
    )


@query("grouped_approx_percentile_gate", "SELECT true AS grouped_pct_ok")
def grouped_approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sketch gate: percentile_approx (mergeable, one pass) must
    land within 1% relative of the exact interpolated percentile in
    EVERY group — the per-group mergeability property that makes sketch
    percentiles safe to partial-aggregate across 1000 executors. The
    exact arm runs the value-frequency histogram plan
    (`windows.exact_percentiles`) rather than percentile()'s per-task
    value buffer — the r8 sf10 OOM class (r8 verdict ask #2); the
    approx arm stays the one-pass sketch under test. The two arms join
    on the 3-row group key (broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    exact = windows.exact_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.95], ["e50", "e95"]
    )
    approx = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_approx(l_extendedprice, array(0.5, 0.95), 10000)"
        ).alias("ap"),
    )
    g = approx.join(F.broadcast(exact), "l_returnflag").select(
        F.array("e50", "e95").alias("ex"), "ap"
    )
    rel_ok = F.forall(
        F.zip_with(
            "ex",
            "ap",
            lambda e, a: F.abs(e - a) <= F.abs(e) * 0.01,
        ),
        lambda x: x,
    )
    return g.agg(
        F.every(rel_ok).alias("grouped_pct_ok")
    )


_PIT_ORACLE = f"""
WITH hist AS ({_SCD2_ORACLE}),
probe AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 2 = 0 THEN DATE '2024-03-01'
              ELSE DATE '2024-08-01' END AS probe_date
  FROM orders)
SELECT o_orderkey, probe_date, h.c_acctbal AS acctbal_at_date
FROM probe JOIN hist h
  ON h.c_custkey = probe.o_custkey
 AND h.valid_from <= probe.probe_date
 AND (h.valid_to IS NULL OR probe.probe_date < h.valid_to)
"""


@query("scd2_point_in_time_join", _PIT_ORACLE)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against SCD2 history: each order
    probes the dimension AS OF a date (half before, half after the
    version split), matching exactly the version whose validity interval
    covers it. The join has an equi component (custkey) so it plans as a
    hash join with the interval predicate as a residual filter — the
    scale-correct shape for temporal joins (never a pure range
    nested-loop when a key exists). This is what the SCD2 history is FOR:
    reproducing features as they were at training/label time."""
    hist = QUERIES["scd2_customer_history"](spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 2 == 0, F.lit("2024-03-01").cast("date")
        )
        .otherwise(F.lit("2024-08-01").cast("date"))
        .alias("probe_date"),
    )
    return (
        probe.join(
            hist,
            (hist["c_custkey"] == probe["o_custkey"])
            & (hist["valid_from"] <= probe["probe_date"])
            & (
                hist["valid_to"].isNull()
                | (probe["probe_date"] < hist["valid_to"])
            ),
        )
        .select(
            "o_orderkey",
            "probe_date",
            F.col("c_acctbal").alias("acctbal_at_date"),
        )
    )


_CAP_SAMPLE_ORACLE = """
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT doc_id, source FROM r WHERE rn <= 5
"""


@query("capped_per_source_sample", _CAP_SAMPLE_ORACLE)
def capped_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling: rank each source's documents by
    md5(doc_id) and keep the first 5 — the balanced-eval-set draw where
    fractions won't do (small strata must still yield k). Deterministic:
    the hash is the random tape, the id breaks ties. One shuffle on the
    stratum key; per-stratum work is a linear scan, so a skewed stratum
    costs its size, never a cross product."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


_ENTROPY_ORACLE = """
WITH g AS (
  SELECT doc_id,
         unnest([substring(text, i, 2)
                 for i in generate_series(1, greatest(len(text) - 1, 1))]) AS bg
  FROM documents),
c AS (SELECT doc_id, bg, COUNT(*) AS n FROM g GROUP BY doc_id, bg),
t AS (SELECT doc_id, SUM(n) AS tot FROM c GROUP BY doc_id)
SELECT c.doc_id,
       round(-SUM((n / CAST(tot AS DOUBLE)) * ln(n / CAST(tot AS DOUBLE))), 4)
         AS bigram_entropy,
       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams
FROM c JOIN t ON c.doc_id = t.doc_id
GROUP BY c.doc_id
"""


@query("char_entropy_quality", _ENTROPY_ORACLE)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per document — the cheap
    perplexity proxy that separates natural text (high, stable entropy)
    from boilerplate/binary junk (low) and random noise (near-maximal).

    The whole computation is row-local, so it runs ZERO-SHUFFLE: bigrams
    materialize via transform(sequence) (JVM-side, no UDF), array_sort
    makes equal bigrams adjacent, and one aggregate() fold walks the
    runs accumulating sum(n*ln n), the distinct-run count, and the
    total. Entropy follows from the identity
    -sum(p*ln p) = ln(tot) - sum(n*ln n)/tot. A 100 TB corpus scans
    once with no Exchange in the plan; the earlier explode + double
    groupBy form shuffled per-doc distinct bigrams for no reason."""
    d = _t(spark, sf_dir, "documents")
    # a run starts when the accumulator is empty (run=0) or the sorted
    # element differs from the previous one; <=> keeps null bigrams
    # (null/empty text) grouped like the explode+groupBy form did
    fold = F.expr(
        """
        aggregate(
          array_sort(transform(sequence(1, greatest(length(text) - 1, 1)),
                               i -> substring(text, i, 2))),
          named_struct('prev', cast(null as string),
                       'run', cast(0 as bigint),
                       'snn', cast(0 as double),
                       'k', cast(0 as bigint),
                       'tot', cast(0 as bigint)),
          (acc, x) -> IF(acc.run > 0 AND x <=> acc.prev,
             named_struct('prev', acc.prev, 'run', acc.run + 1,
                          'snn', acc.snn, 'k', acc.k, 'tot', acc.tot + 1),
             named_struct('prev', x, 'run', cast(1 as bigint),
                          'snn', acc.snn + IF(acc.run > 0,
                                cast(acc.run as double)
                                  * ln(cast(acc.run as double)),
                                cast(0 as double)),
                          'k', acc.k + 1, 'tot', acc.tot + 1)),
          acc -> named_struct(
             'snn', acc.snn + IF(acc.run > 0,
                    cast(acc.run as double) * ln(cast(acc.run as double)),
                    cast(0 as double)),
             'k', acc.k, 'tot', acc.tot))
        """
    )
    return d.select("doc_id", fold.alias("__e")).select(
        "doc_id",
        F.round(
            F.log(F.col("__e.tot").cast("double"))
            - F.col("__e.snn") / F.col("__e.tot").cast("double"),
            4,
        ).alias("bigram_entropy"),
        F.col("__e.k").alias("distinct_bigrams"),
    )


_SEQ_CONFORM_ORACLE = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
v AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase'
                   AND (prev_type IS NULL OR prev_type = 'signup')
                  THEN 1 ELSE 0 END) AS n_violations,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN n_violations > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_with_violations,
       CAST(SUM(n_violations) AS BIGINT) AS total_violations
FROM v
"""


@query("sequence_conformance", _SEQ_CONFORM_ORACLE)
def sequence_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-order conformance: a purchase with no prior event (or
    straight after signup) violates the expected lifecycle — the
    sequence-validity probe a CDP runs before trusting funnel metrics.
    LAG over each user's time order, one grouped verdict; the shuffle is
    the user_id window, the output three scalars."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.withColumn("prev_type", F.lag("event_type").over(w))
    viol = F.when(
        (F.col("event_type") == "purchase")
        & (F.col("prev_type").isNull() | (F.col("prev_type") == "signup")),
        1,
    ).otherwise(0)
    v = s.groupBy("user_id").agg(
        F.sum(viol).alias("n_violations"), F.count(F.lit(1)).alias("n_events")
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("n_violations") > 0).cast("int"))
        .cast("bigint")
        .alias("users_with_violations"),
        F.sum("n_violations").cast("bigint").alias("total_violations"),
    )


_TOP3_NESTED_ORACLE = """
WITH r AS (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer)
SELECT c_mktsegment,
       array_to_string(list(c_custkey ORDER BY rn), ',') AS top_custkeys,
       round(list(c_acctbal ORDER BY rn)[1], 2) AS best_acctbal
FROM r WHERE rn <= 3
GROUP BY c_mktsegment
"""


@query("top3_customers_nested", _TOP3_NESTED_ORACLE)
def top3_customers_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group materialized as a rank-ordered list column (the
    API-response / feature-vector shape, not one row per rank):
    rank-filter then collect into rank-ordered arrays via
    array_sort(collect_list(struct)) — collect_list alone has no order
    guarantee under parallel merge. The list is emitted as a
    comma-joined string so the output schema stays atomic (the oracle
    comparison canonicalizes via pandas, which cannot hash arrays).
    Group count bounds the output; the rank window shuffles once on
    the segment key."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    r = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
    )
    s = r.groupBy("c_mktsegment").agg(
        F.array_sort(
            F.collect_list(F.struct("rn", "c_custkey", "c_acctbal"))
        ).alias("t")
    )
    return s.select(
        "c_mktsegment",
        F.array_join(
            F.transform("t", lambda x: x["c_custkey"].cast("string")), ","
        ).alias("top_custkeys"),
        F.round(F.element_at("t", 1)["c_acctbal"], 2).alias("best_acctbal"),
    )


_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1),
c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
t AS (SELECT SUM(n) AS tot FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / CAST(tot AS DOUBLE), 6) AS observed,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_expected
FROM c, t
"""


@query("benford_digit_profile", _BENFORD_ORACLE)
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order totals: observed leading-
    digit frequencies against log10(1 + 1/d) — the classic anomaly probe
    for fabricated or truncated monetary data. Digit space is 1-9, so
    the grouped output is constant-size at any row count; one scan, one
    tiny shuffle, total via a broadcast 1-row aggregate."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("tot").cast("double"), 6).alias("observed"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
            "benford_expected"
        ),
    )


_CHI2_ORACLE = """
WITH o AS (
  SELECT c_mktsegment AS seg, n_name AS nat
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
c AS (SELECT seg, nat, COUNT(*) AS n FROM o GROUP BY seg, nat),
m AS (SELECT seg, SUM(n) AS rs FROM c GROUP BY seg),
k AS (SELECT nat, SUM(n) AS cs FROM c GROUP BY nat),
t AS (SELECT SUM(n) AS tot FROM c),
full_grid AS (
  SELECT m.seg, k.nat, m.rs, k.cs, COALESCE(c.n, 0) AS n
  FROM m CROSS JOIN k LEFT JOIN c ON c.seg = m.seg AND c.nat = k.nat)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST((SELECT COUNT(*) FROM m) - 1 AS BIGINT)
         * CAST((SELECT COUNT(*) FROM k) - 1 AS BIGINT) AS dof,
       round(SUM(pow(n - rs * cs / CAST(tot AS DOUBLE), 2)
                 / (rs * cs / CAST(tot AS DOUBLE))), 4) AS chi2
FROM full_grid, t
"""


@query("chi2_segment_nation", _CHI2_ORACLE)
def chi2_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence over the (segment x nation) contingency
    table, zero-observed cells included via the margin cross — the
    association test behind 'is this attribute informative'. Margins are
    dimension-sized, so the grid cross-join is tiny and broadcasts; the
    only data-scale work is the first grouped count."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nat")
    )
    cnt = o.groupBy("seg", "nat").agg(F.count(F.lit(1)).alias("n"))
    m = cnt.groupBy("seg").agg(F.sum("n").alias("rs"))
    k = cnt.groupBy("nat").agg(F.sum("n").alias("cs"))
    t = cnt.agg(F.sum("n").alias("tot"))
    grid = (
        m.crossJoin(k)
        .join(cnt, ["seg", "nat"], "left")
        .select("seg", "nat", "rs", "cs", F.coalesce("n", F.lit(0)).alias("n"))
        .crossJoin(F.broadcast(t))
    )
    exp = F.col("rs") * F.col("cs") / F.col("tot").cast("double")
    n_seg = m.agg(F.count(F.lit(1)).alias("x"))
    n_nat = k.agg(F.count(F.lit(1)).alias("y"))
    return (
        grid.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum(F.pow(F.col("n") - exp, 2) / exp), 4).alias("chi2"),
        )
        .crossJoin(F.broadcast(n_seg))
        .crossJoin(F.broadcast(n_nat))
        .select(
            "n_cells",
            ((F.col("x") - 1) * (F.col("y") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
        )
    )


_COLPROFILE_ORACLE = """
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nn_returnflag,
         COUNT(DISTINCT l_returnflag) AS nd_returnflag,
         SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS nn_shipdate,
         COUNT(DISTINCT l_shipdate) AS nd_shipdate,
         SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_quantity,
         COUNT(DISTINCT l_quantity) AS nd_quantity
  FROM lineitem)
SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(n_distinct AS BIGINT) AS n_distinct
FROM (
  SELECT 'l_returnflag' AS col, n_rows, nn_returnflag AS n_nulls,
         nd_returnflag AS n_distinct FROM s
  UNION ALL
  SELECT 'l_shipdate', n_rows, nn_shipdate, nd_shipdate FROM s
  UNION ALL
  SELECT 'l_quantity', n_rows, nn_quantity, nd_quantity FROM s)
"""


@query("column_profile_lineitem", _COLPROFILE_ORACLE)
def column_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (the shape every catalog/profiling tool emits): one
    row per column with row/null/exact-distinct counts, computed in ONE
    aggregate pass — multiple COUNT(DISTINCT)s plan via Expand (rows x
    profiled columns), which is the documented cost of exactness; swap
    approx_count_distinct per column for the one-pass sketch profile at
    full scale. The wide single-row aggregate unpivots to the long shape
    with a stack()."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_shipdate", "l_quantity"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("int")).alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    s = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in cols
    )
    return s.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col, n_nulls, n_distinct)",
        "n_rows",
    ).select(
        "col",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


_COPURCHASE_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey)
SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders
FROM p
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@query("copurchase_part_pairs", _COPURCHASE_ORACLE)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order, top-20 by support. The self-join fans out quadratically ONLY
    within an order (TPC-H orders hold <= 7 lines, so the blowup is a
    bounded constant — the same property that makes this shape safe on
    real baskets after a per-basket item cap), then one grouped count and
    a TakeOrdered. Distinct-projection first so duplicate (order, part)
    lines never inflate support."""
    from etl_bigquery_pipeline_spark.operators import graph

    li = _t(spark, sf_dir, "lineitem")
    return (
        graph.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .groupBy(
            F.col("pa").alias("part_a"), F.col("pb").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


_WAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du)
SELECT days.day,
       CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
FROM days JOIN du
  ON du.day BETWEEN days.day - INTERVAL 6 DAY AND days.day
GROUP BY days.day
"""


@query("weekly_active_users", _WAU_ORACLE)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (the WAU curve): windowed
    COUNT(DISTINCT) over time, which no window frame computes directly.
    Dedup to (day, user) pairs FIRST (event volume never enters the
    band join), then band-join the pair set against the observed-day
    spine — pairs x 7 rows, bounded by active users x days, not events.
    The band join carries no equi key by design (every day pairs with a
    6-day neighborhood); the spine side is dimension-sized, so it
    broadcasts and the 'product' is the intended 7x fan-out."""
    e = _t(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    return (
        du.alias("p")
        .join(
            F.broadcast(days.alias("d")),
            (F.col("p.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("p.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


_SEASONALITY_ORACLE = """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB Sun=0, Spark Sun=1
       CAST(hour(ts) AS INT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(AVG(value), 4) AS avg_value
FROM events GROUP BY 1, 2
"""


@query("hourly_seasonality", _SEASONALITY_ORACLE)
def hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week seasonality heatmap (the capacity-
    planning / anomaly-baseline profile): one grouped pass into a
    bounded 7x24 cell space — constant output at any event volume."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


_FULFILL_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS BIGINT) AS min_days,
       round(AVG(date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE))), 4) AS avg_days,
       round(median(date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE))), 1) AS median_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("fulfillment_latency_by_priority", _FULFILL_ORACLE)
def fulfillment_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per priority class — the SLA monitor: one
    orderkey join (fact-fact, co-partitionable), datediff map-side, tiny
    grouped stats. Median is the exact interpolated one; at full scale
    swap approx_percentile and keep the same gate discipline."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("o_orderpriority", d.alias("days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("days").cast("bigint").alias("min_days"),
            F.round(F.avg("days"), 4).alias("avg_days"),
            F.round(F.median("days"), 1).alias("median_days"),
        )
    )


_INTERORDER_ORACLE = """
WITH s AS (
  SELECT o_custkey,
         date_diff('day',
           LAG(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           CAST(o_orderdate AS DATE)) AS gap
  FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n_intervals,
       round(AVG(gap), 4) AS avg_gap_days,
       round(median(gap), 1) AS median_gap_days,
       CAST(MAX(gap) AS BIGINT) AS max_gap_days
FROM s WHERE gap IS NOT NULL
"""


@query("interorder_intervals", _INTERORDER_ORACLE)
def interorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: LAG over each customer's order history
    gives the days-between-orders distribution (the retention/LTV input).
    One custkey window shuffle, scalar output."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.col("o_orderdate").cast("date"),
        F.lag(F.col("o_orderdate").cast("date")).over(w),
    )
    s = o.select(gap.alias("gap")).filter(F.col("gap").isNotNull())
    return s.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(F.avg("gap"), 4).alias("avg_gap_days"),
        F.round(F.median("gap"), 1).alias("median_gap_days"),
        F.max("gap").cast("bigint").alias("max_gap_days"),
    )


_PARETO_ORACLE = """
WITH r AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS rev
  FROM lineitem GROUP BY l_partkey),
c AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS tot
  FROM r),
k AS (
  SELECT CASE WHEN cum / tot <= 0.8 THEN 'A'
              WHEN cum / tot <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class, rev
  FROM c)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       round(SUM(rev), 2) AS class_revenue
FROM k GROUP BY abc_class
"""


@query("pareto_abc_parts", _PARETO_ORACLE)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of parts by revenue: cumulative share
    over the revenue-ranked PER-PART aggregate, classes cut at 80/95%.
    The per-part frame grows with the catalog (sf100k ~ 2e10 parts), so
    the running sum rides operators.windows.with_running_sums
    (range shuffle + per-partition offsets) instead of a
    single-partition cumulative window; the grand total is a 1-row
    broadcast join. The inventory-policy analytic; ties rank by partkey
    so the class boundary is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("rev")
    )
    cum, _ = windows.with_running_sums(
        r, [F.desc("rev"), F.col("l_partkey")], ["rev"]
    )
    c = cum.join(
        F.broadcast(r.agg(F.sum("rev").alias("__tot")))
    ).select("rev", (F.col("cum_rev") / F.col("__tot")).alias("share"))
    cls = (
        F.when(F.col("share") <= 0.8, "A")
        .when(F.col("share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        c.select(cls.alias("abc_class"), "rev")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev"), 2).alias("class_revenue"),
        )
    )


_RFM_ORACLE = """
WITH m AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
base AS (
  SELECT o_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)), maxd) AS recency,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
  FROM orders, m GROUP BY o_custkey, maxd),
th AS (
  SELECT quantile_cont(recency, 0.5) AS r_med,
         quantile_cont(frequency, 0.5) AS f_med,
         quantile_cont(monetary, 0.5) AS m_med
  FROM base)
SELECT CASE WHEN recency <= r_med THEN 'recent' ELSE 'lapsed' END AS r_seg,
       CASE WHEN frequency > f_med THEN 'frequent' ELSE 'occasional' END AS f_seg,
       CASE WHEN monetary > m_med THEN 'high' ELSE 'low' END AS m_seg,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(AVG(monetary), 2) AS avg_monetary
FROM base, th
GROUP BY r_seg, f_seg, m_seg
"""


@query("rfm_segment_counts", _RFM_ORACLE)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary split at
    the exact medians (broadcast 1-row thresholds — the same two-phase
    scalar device as the equi-depth histogram), counted into the 8
    segment cells. The per-customer frame is corpus-proportional, so
    the three medians run on the histogram plan rather than
    percentile()'s per-task value buffer (the r8 sf10 OOM class);
    the frame is cached once and reused by all three + the join."""
    o = _t(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    base = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.datediff(
                "maxd", F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("monetary"),
        )
    ).transform(scoped_cache)
    th = (
        windows.exact_percentiles(base, None, "recency", [0.5], ["r_med"])
        .crossJoin(
            windows.exact_percentiles(
                base, None, "frequency", [0.5], ["f_med"]
            )
        )
        .crossJoin(
            windows.exact_percentiles(
                base, None, "monetary", [0.5], ["m_med"]
            )
        )
    )
    j = base.crossJoin(F.broadcast(th))
    return (
        j.select(
            F.when(F.col("recency") <= F.col("r_med"), "recent")
            .otherwise("lapsed")
            .alias("r_seg"),
            F.when(F.col("frequency") > F.col("f_med"), "frequent")
            .otherwise("occasional")
            .alias("f_seg"),
            F.when(F.col("monetary") > F.col("m_med"), "high")
            .otherwise("low")
            .alias("m_seg"),
            "monetary",
        )
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("monetary"), 2).alias("avg_monetary"),
        )
    )


_BOUNCE_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS brk
  FROM e),
g AS (
  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM f),
s AS (
  SELECT user_id, session_seq, CAST(MIN(ts) AS DATE) AS day,
         COUNT(*) AS n_events
  FROM g GROUP BY user_id, session_seq)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
FROM s GROUP BY day
"""


@query("bounce_rate_by_day", _BOUNCE_ORACLE)
def bounce_rate_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min inactivity islands,
    the sessionize operator) holding exactly one event, keyed by session
    start day — the engagement KPI layered on sessionization. Adds one
    tiny day-grouped pass over the per-session rollup."""
    e = _t(spark, sf_dir, "events")
    s = sessionize.session_stats(
        e, user_col="user_id", ts_col="ts", gap_minutes=30,
        value_col="value", order_cols=("event_id",),
        keep_bounds=True,
    )
    return (
        s.select(
            F.col("session_start").cast("date").alias("day"),
            (F.col("n_events") == 1).cast("int").alias("is_bounce"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("is_bounce").cast("bigint").alias("n_bounces"),
            F.round(
                F.sum("is_bounce") / F.count(F.lit(1)).cast("double"), 6
            ).alias("bounce_rate"),
        )
    )


_NEW_RETURNING_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
f AS (SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id)
SELECT du.day,
       CAST(SUM(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(SUM(CASE WHEN du.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users
FROM du JOIN f ON du.user_id = f.user_id
GROUP BY du.day
"""


@query("new_vs_returning_users", _NEW_RETURNING_ORACLE)
def new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: each active (day, user) pair is new
    iff the day is that user's first. Same pair-frame as WAU/retention —
    the three KPIs share one shuffle shape (dedup to pairs, user-keyed
    join), so a real pipeline computes them off one cached pair table."""
    e = _t(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    f = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        du.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("new_users"),
            F.sum((F.col("day") > F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


_MONTHLY_ROLLUP_ORACLE = """
SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
       MIN(value) AS value_min,
       MAX(value) AS value_max,
       round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*), 4) AS value_avg
FROM events GROUP BY 1, 2
"""


@query("monthly_event_rollup", _MONTHLY_ROLLUP_ORACLE)
def monthly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly rollup answered THROUGH the daily aggregate table
    (plans/aggregates): facts fold once into the daily additive rollup,
    the month re-merges O(days x keys) rows. The oracle computes the
    month DIRECTLY from raw events — hash equality proves the
    summary-table routing loses nothing (avg finalized from sum/count,
    never averaged averages)."""
    from etl_bigquery_pipeline_spark.plans import aggregates

    e = _t(spark, sf_dir, "events")
    daily = aggregates.build_daily_rollup(e)
    m = aggregates.rollup_to_monthly(daily)
    return m.select(
        "month",
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
        "value_min",
        "value_max",
        "value_avg",
    )


_LIFT_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
sup AS (SELECT l_partkey, COUNT(*) AS s FROM li GROUP BY l_partkey),
p AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 3)
SELECT part_a, part_b, CAST(ab AS BIGINT) AS n_together,
       round(ab * CAST(n_orders AS DOUBLE) / (sa.s * sb.s), 4) AS lift
FROM p
JOIN sup sa ON p.part_a = sa.l_partkey
JOIN sup sb ON p.part_b = sb.l_partkey, n
ORDER BY lift DESC, part_a, part_b
LIMIT 20
"""


@query("copurchase_lift_top20", _LIFT_ORACLE)
def copurchase_lift_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association LIFT, not just support: P(a,b)/(P(a)P(b)) over
    co-ordered part pairs with a minimum-support floor (lift on 1-2
    baskets is noise). Support counts broadcast back onto the pair
    frame; top-20 via TakeOrdered with deterministic tie-break. The
    floor is also what bounds the pair frame the lift join touches."""
    from etl_bigquery_pipeline_spark.operators import graph

    li = scoped_cache(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    sup = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    pairs = (
        graph.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .groupBy(
            F.col("pa").alias("part_a"), F.col("pb").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("ab"))
        .filter(F.col("ab") >= 3)
    )
    sa = sup.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa"))
    sb = sup.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("ab").cast("bigint").alias("n_together"),
            F.round(
                F.col("ab")
                * F.col("n_orders").cast("double")
                / (F.col("sa") * F.col("sb")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


_CONCURRENCY_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS brk
  FROM e),
g AS (
  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM f),
s AS (
  SELECT user_id, session_seq, MIN(ts) AS st, MAX(ts) AS en
  FROM g GROUP BY user_id, session_seq),
pts AS (
  SELECT CAST(st AS DATE) AS day, st AS t, 1 AS delta, 0 AS tie FROM s
  UNION ALL
  SELECT CAST(st AS DATE) AS day, en AS t, -1 AS delta, 1 AS tie FROM s),
run AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, tie, delta
                          ROWS UNBOUNDED PRECEDING) AS live
  FROM pts)
SELECT day, CAST(MAX(live) AS BIGINT) AS peak_concurrent
FROM run GROUP BY day
"""


@query("peak_concurrent_sessions", _CONCURRENCY_ORACLE)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line algorithm as
    DataFrame algebra: session intervals become +1/-1 boundary events, a
    running sum ordered by time is the live-session count, its max per
    day the capacity answer. The sweep is PARTITIONED BY DAY (sessions
    keyed to their start day; midnight-crossers count toward the start
    day — documented clipping), so no global ordering ever materializes.
    Ends sort after coincident starts (tie column) so a session touching
    a point still counts at it."""
    e = _t(spark, sf_dir, "events")
    s = sessionize.session_stats(
        e, user_col="user_id", ts_col="ts", gap_minutes=30,
        value_col="value", order_cols=("event_id",),
        keep_bounds=True,
    )
    starts = s.select(
        F.col("session_start").cast("date").alias("day"),
        F.col("session_start").alias("t"),
        F.lit(1).alias("delta"),
        F.lit(0).alias("tie"),
    )
    ends = s.select(
        F.col("session_start").cast("date").alias("day"),
        F.col("session_end").alias("t"),
        F.lit(-1).alias("delta"),
        F.lit(1).alias("tie"),
    )
    pts = starts.unionAll(ends)
    w = (
        Window.partitionBy("day")
        .orderBy("t", "tie", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("live"))
    return run.groupBy("day").agg(
        F.max("live").cast("bigint").alias("peak_concurrent")
    )


