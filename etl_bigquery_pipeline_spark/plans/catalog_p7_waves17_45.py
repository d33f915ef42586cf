"""Round-4 waves 17-45: UDAF surface, sketches, analytics breadth — split from plans/catalog.py (r11).

Queries register into the shared catalog_base.QUERIES/ORACLE via
the @query decorator at import; plans/catalog.py imports the part
modules in the original textual order, so registration order (and
the driver's sample-prefix derivation) is unchanged.
"""

from __future__ import annotations

from etl_bigquery_pipeline_spark.plans.catalog_base import (
    DataFrame,
    F,
    SparkSession,
    TX,
    Window,
    _ANN_PANEL_MAX_ID,
    _DIM,
    _ann_panel,
    _cosine_sql,
    _hex8_to_int_sql,
    _t,
    exact_sum,
    query,
    scoped_cache,
    widen_if_narrow,
    windows,
)

# ===================================================================
# Round-4 wave 17 — Python UDAF surface (grouped-agg pandas_udf),
# winsorized robust stats
# ===================================================================

_GEOMEAN_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       round(exp(AVG(ln(p_retailprice))), 6) AS geomean_price
FROM part WHERE p_retailprice > 0
GROUP BY p_brand
"""


@query("geomean_price_by_brand", _GEOMEAN_ORACLE)
def geomean_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDAF surface: a GROUPED_AGG pandas_udf (series ->
    scalar per group, Arrow-batched — Spark's only Python aggregate
    shape) computing the geometric mean per brand, hash-matched against
    the SQL identity exp(avg(ln(x))). Proves the UDAF contract is wired
    correctly (partial batches stream into one scalar per group) while
    the JVM replay pins its arithmetic. In production the JVM expression
    wins — this exists for aggregates that genuinely need Python
    (model-based scoring folded into an aggregation)."""
    from etl_bigquery_pipeline_spark.functions.pandas_udfs import geomean_udf

    p = _t(spark, sf_dir, "part").filter(F.col("p_retailprice") > 0)
    # Spark disallows mixing a grouped-agg pandas UDF with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT) — the count comes from a
    # sibling aggregate joined back (broadcast; per-brand rows are tiny)
    gm = p.groupBy("p_brand").agg(
        geomean_udf(F.col("p_retailprice")).alias("geomean_price")
    )
    n = p.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    return gm.join(F.broadcast(n), "p_brand").select(
        "p_brand", "n_parts", "geomean_price"
    )


_WINSOR_ORACLE = """
WITH b AS (
  SELECT quantile_cont(c_acctbal, 0.05) AS lo,
         quantile_cont(c_acctbal, 0.95) AS hi
  FROM customer),
w AS (
  SELECT c_mktsegment,
         least(greatest(c_acctbal, b.lo), b.hi) AS wv,
         CAST(c_acctbal < b.lo OR c_acctbal > b.hi AS INT) AS clamped
  FROM customer CROSS JOIN b)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(clamped) AS BIGINT) AS n_clamped,
       round(AVG(wv), 4) AS winsorized_mean,
       round(stddev_samp(wv), 4) AS winsorized_std
FROM w GROUP BY c_mktsegment
"""


@query("winsorized_price_stats", _WINSOR_ORACLE)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized moments (the robust-stats treatment when you must keep
    every row, unlike the trimmed mean which drops the tails): balances
    clamped to the exact [p5, p95] interpolated percentiles, then
    ordinary mean/stddev per segment. The two cutoffs are one scalar row
    broadcast back (computed on the histogram plan — percentile()'s
    per-task value buffer over an unaggregated base table is the r8
    sf10 OOM class); everything else is a scan + segment groupBy."""
    c = _t(spark, sf_dir, "customer")
    b = windows.exact_percentiles(
        c, None, "c_acctbal", [0.05, 0.95], ["lo", "hi"]
    )
    w = c.crossJoin(F.broadcast(b)).select(
        "c_mktsegment",
        F.least(F.greatest("c_acctbal", F.col("lo")), F.col("hi")).alias("wv"),
        ((F.col("c_acctbal") < F.col("lo")) | (F.col("c_acctbal") > F.col("hi")))
        .cast("int")
        .alias("clamped"),
    )
    return w.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        F.round(F.avg("wv"), 4).alias("winsorized_mean"),
        F.round(F.stddev_samp("wv"), 4).alias("winsorized_std"),
    )


# ===================================================================
# Round-4 wave 18 — argmax builtins, bitmap distinct, try_ arithmetic,
# exact grouped percentiles
# ===================================================================

_LATEST_ORDER_ORACLE = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders)
SELECT o_custkey, o_orderkey AS latest_orderkey,
       o_orderdate AS latest_orderdate,
       round(o_totalprice, 2) AS latest_totalprice
FROM r WHERE rn = 1
"""


@query("latest_order_by_customer", _LATEST_ORDER_ORACLE)
def latest_order_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax WITHOUT a window: max_by carries companion
    columns to the max of an ordering expression inside one hash
    aggregate — one shuffle of partial (key, best-so-far) states versus
    the window form's full sort of every row. Ties broken by orderkey so
    the argmax is a total order (max_by alone is nondeterministic under
    ties — the struct trick pins it)."""
    o = _t(spark, sf_dir, "orders")
    best = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", best).alias("latest_orderkey"),
        F.max("o_orderdate").alias("latest_orderdate"),
        F.round(F.max_by("o_totalprice", best), 2).alias("latest_totalprice"),
    )


_BITMAP_ORACLE = """
SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS bitmap_distinct,
       true AS parity
FROM orders
"""


@query("bitmap_distinct_parity", _BITMAP_ORACLE)
def bitmap_distinct_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (the
    Doris/ClickHouse bitmap technique, built into Spark 3.5+): keys
    bucket by bitmap_bucket_number, each bucket ORs its bit positions
    into a fixed-size bitmap (bitmap_construct_agg — a map-side-combinable
    binary state), and summing bitmap_count over buckets gives the exact
    distinct count with NO count-distinct Expand. For dense integer keys
    the shuffle is one 4KB bitmap per bucket instead of one row per
    distinct value. Parity against plain COUNT(DISTINCT) is the gate."""
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    bm = (
        o.groupBy(F.bitmap_bucket_number(F.col("o_custkey")).alias("b"))
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col("o_custkey"))
            ).alias("bits")
        )
        .agg(F.sum(F.bitmap_count("bits")).cast("bigint").alias("bitmap_distinct"))
    )
    exact = o.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    return exact.crossJoin(F.broadcast(bm)).select(
        "exact_distinct",
        "bitmap_distinct",
        (F.col("exact_distinct") == F.col("bitmap_distinct")).alias("parity"),
    )


_TRY_ARITH_ORACLE = """
SELECT CAST(COUNT(*) FILTER (
         WHERE o_orderkey * 94906265847 > 9223372036854775807)
       AS BIGINT) AS n_would_overflow,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT)
         AS n_div_by_zero,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
"""


@query("try_arithmetic_audit", _TRY_ARITH_ORACLE)
def try_arithmetic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow/zero-division-safe arithmetic (the try_ function family):
    try_multiply NULLs where bigint would overflow instead of wrapping
    or raising, try_divide NULLs division by zero — counted against the
    oracle's exact hugeint arithmetic. The audit shape a pipeline runs
    before enabling ANSI mode on untrusted numeric columns."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count_if(
            F.try_multiply(F.col("o_orderkey"), F.lit(94906265847)).isNull()
        )
        .cast("bigint")
        .alias("n_would_overflow"),
        F.count_if(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3).isNull()
        )
        .cast("bigint")
        .alias("n_div_by_zero"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


_QUARTILE_ORACLE = """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
       round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
       round(quantile_cont(c_acctbal, 0.75), 4) AS p75,
       round(quantile_cont(c_acctbal, 0.75)
             - quantile_cont(c_acctbal, 0.25), 4) AS iqr
FROM customer GROUP BY c_mktsegment
"""


@query("acctbal_quartiles_by_segment", _QUARTILE_ORACLE)
def acctbal_quartiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quartiles PER GROUP (the grouped complement of
    percentile_lineitem's global form and the exact sibling of
    grouped_approx_percentile_gate), on the histogram plan — all three
    cut points come out of ONE grouped value-frequency histogram, with
    state bounded by distinct values rather than percentile()'s
    per-task value map over the raw rows (the r8 sf10 OOM class; this
    is the identical plan shape over customer instead of lineitem); the
    IQR falls out as a projection. At 100 TB you reach for
    approx_percentile — the gate query quantifies what that costs."""
    c = _t(spark, sf_dir, "customer")
    g = windows.exact_percentiles(
        c, "c_mktsegment", "c_acctbal", [0.25, 0.50, 0.75],
        ["q1", "q2", "q3"],
    )
    return g.select(
        "c_mktsegment",
        F.round("q1", 4).alias("p25"),
        F.round("q2", 4).alias("p50"),
        F.round("q3", 4).alias("p75"),
        F.round(F.col("q3") - F.col("q1"), 4).alias("iqr"),
    )


# ===================================================================
# Round-4 wave 20 — mergeable-sketch distinct maintenance, feature
# standardization, curriculum ordering
# ===================================================================


@query(
    "hll_incremental_distinct_gate",
    "SELECT true AS merge_matches_whole, true AS estimate_within_5pct",
)
def hll_incremental_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct maintenance (Apache DataSketches HLL,
    built into Spark 3.5+): the property that makes approx-distinct
    INCREMENTAL at 100 TB — sketch today's batch, union with the stored
    corpus sketch, never rescan history. Gate 1: the union of two
    disjoint batch sketches estimates within 1% of one whole-table
    sketch (unions are lossless on the retained registers, but
    sparse-to-dense mode promotion means the merged estimate need not
    be bit-identical — the gate pins the practical contract). Gate 2:
    the merged estimate lands within 5% of the exact distinct count.
    Sketches are bytes — persistable in any table — and the whole check
    ships two booleans to the driver."""
    o = _t(spark, sf_dir, "orders").select("o_custkey").transform(scoped_cache)
    b1 = o.filter(F.col("o_custkey") % 2 == 0)
    b2 = o.filter(F.col("o_custkey") % 2 != 0)
    s1 = b1.agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    s2 = b2.agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    merged = (
        s1.unionAll(s2)
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
    )
    whole = o.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("n"))
    # one driver action instead of three: the three 1-row aggregates
    # crossJoin into a single lazy plan and the bounds evaluate in-plan
    # (same arithmetic: abs/mult/greatest over the same doubles)
    return (
        merged.withColumnRenamed("est", "__m")
        .crossJoin(whole.withColumnRenamed("est", "__w"))
        .crossJoin(exact)
        .select(
            (
                F.abs(F.col("__m") - F.col("__w"))
                <= F.lit(0.01) * F.greatest(F.col("__w"), F.lit(1))
            ).alias("merge_matches_whole"),
            (
                F.abs(F.col("__m") - F.col("n"))
                <= F.lit(0.05) * F.col("n")
            ).alias("estimate_within_5pct"),
        )
    )


_STANDARDIZE_ORACLE = f"""
WITH s AS (
  SELECT i AS dim,
         avg(CAST(embedding[i] AS DOUBLE)) AS mu,
         stddev_samp(CAST(embedding[i] AS DOUBLE)) AS sd
  FROM embeddings, generate_series(1, 5) AS g(i)
  GROUP BY i),
z AS (
  SELECT s.dim,
         (CAST(e.embedding[s.dim] AS DOUBLE) - s.mu) / s.sd AS zv
  FROM embeddings e CROSS JOIN s)
SELECT CAST(dim AS BIGINT) AS dim,
       round(avg(zv), 6) + 0.0 AS scaled_mean,
       round(stddev_samp(zv), 6) + 0.0 AS scaled_std
FROM z GROUP BY dim
"""


@query("embedding_standardization_gate", _STANDARDIZE_ORACLE)
def embedding_standardization_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature standardization over array columns (the pre-clustering /
    pre-ANN scaling step): per-dimension mean and stddev from ONE
    explode + groupBy pass over the first 5 dimensions, scaling applied
    as a broadcast join + projection, and the gate re-measures the
    scaled column — mean 0, stddev 1 per dimension, rounded to 6. At
    full width the stats frame is |dims| rows; the corpus shuffles only
    (dim, value) pairs for the dims being profiled."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("dim"),
                        F.col("embedding")[i].cast("double").alias("v"),
                    )
                    for i in range(5)
                ]
            )
        ).alias("x")
    ).select(F.col("x.dim").alias("dim"), F.col("x.v").alias("v"))
    stats = ex.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
    )
    z = ex.join(F.broadcast(stats), "dim").select(
        "dim", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("zv")
    )
    # + 0.0 folds IEEE negative zero to +0.0 on both engines (DuckDB
    # would otherwise print -0.0 for a -1e-17 mean and hash-mismatch)
    return z.groupBy(F.col("dim").cast("bigint").alias("dim")).agg(
        (F.round(F.avg("zv"), 6) + F.lit(0.0)).alias("scaled_mean"),
        (F.round(F.stddev_samp("zv"), 6) + F.lit(0.0)).alias("scaled_std"),
    )


_CURRICULUM_ORACLE = """
WITH q AS (
  SELECT doc_id, n_chars,
         ntile(10) OVER (ORDER BY n_chars DESC, doc_id ASC) AS decile,
         md5('cur:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents)
SELECT doc_id, CAST(decile AS BIGINT) AS decile,
       CAST(ROW_NUMBER() OVER (ORDER BY decile ASC, h ASC, doc_id ASC)
            AS BIGINT) AS position
FROM q
ORDER BY position LIMIT 25
"""


@query("curriculum_order_head", _CURRICULUM_ORACLE)
def curriculum_order_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (easy-first training schedules): documents
    bucketed into proxy-difficulty deciles (length here; any score
    column slots in), then shuffled WITHIN decile by salted md5 — so the
    schedule is coarse-to-fine but not length-sorted within a band (a
    pure sort would correlate adjacent batches). First 25 positions
    shown. Deciles come from the distributed global row-number (range
    shuffle + per-partition offsets) with the ntile bucket computed
    closed-form from (rn, N) — no single-partition WindowExec; the only
    bare window runs over the 25-row post-limit head. The body never
    enters the sort (doc_id, n_chars projection only)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # Distributed ntile: global row numbers via range-partition + offsets
    # (operators.windows.with_global_row_number — no single-partition
    # WindowExec), then the ntile bucket closed-form from (rn, N).
    ranked, n = windows.with_global_row_number(
        d,
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        rn_col="__rn",
    )
    q = ranked.select(
        "doc_id",
        windows.ntile_from_row_number(F.col("__rn"), n, 10).alias("decile"),
        F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    # Head-25 of the (decile, h, doc_id) order: TakeOrderedAndProject picks
    # the global top-25 distributively; positions 1..25 are then a window
    # over a 25-row post-limit frame (bounded by construction).
    head = q.orderBy("decile", "h", "doc_id").limit(25)
    wp = Window.orderBy(
        F.col("decile").asc(), F.col("h").asc(), F.col("doc_id").asc()
    )
    return head.select(
        "doc_id",
        "decile",
        F.row_number().over(wp).cast("bigint").alias("position"),
    ).orderBy("position")


# ===================================================================
# Round-4 wave 21 — deterministic masking view, percent-of-parent
# hierarchy shares
# ===================================================================

_MASKED_ORACLE = """
SELECT c_custkey,
       substring(c_name, 1, 1) || repeat('*', greatest(length(c_name) - 1, 0))
         AS masked_name,
       CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band,
       c_mktsegment
FROM customer
"""


@query("masked_customer_view", _MASKED_ORACLE)
def masked_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking view (the share-with-analytics shape that
    k_anonymity_check gates): names reduced to an initial + padding,
    balances coarsened to 1000-unit bands — deterministic projections,
    so the masked view is reproducible and joinable on the surviving
    key. Zero shuffle; masking composes with any downstream aggregate
    exactly like the raw columns would."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.substring("c_name", 1, 1),
            F.repeat(F.lit("*"), F.greatest(F.length("c_name") - 1, F.lit(0))),
        ).alias("masked_name"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("bigint")
        .alias("acctbal_band"),
        "c_mktsegment",
    )


_NATION_SHARE_ORACLE = """
WITH rev AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2)
SELECT r_name, n_name, round(revenue, 2) AS revenue,
       round(revenue / SUM(revenue) OVER (PARTITION BY r_name), 6)
         AS share_of_region,
       round(revenue / SUM(revenue) OVER (), 6) AS share_of_total
FROM rev
"""


@query("nation_share_within_region", _NATION_SHARE_ORACLE)
def nation_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels in one pass: each
    nation's revenue share within its region AND of the grand total —
    two window sums over the per-NATION aggregate (a few dozen rows at
    any scale; the corpus-sized work is the star join + groupBy that
    produced it). The drill-down companion to revenue_share_by_region."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    dim = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", "n_name", "r_name"
        )
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    wr = Window.partitionBy("r_name")
    wt = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(wt), 6).alias(
            "share_of_total"
        ),
    )


# ===================================================================
# Round-4 wave 22 — readability, OLS trend, full-star join, rare-level
# collapsing
# ===================================================================

_READABILITY_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
         len(list_filter([trim(x) for x in string_split_regex(text, '[.!?]+')],
                         x -> x <> '')) AS n_sents
  FROM documents),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         greatest(n_sents, 1) AS n_sents,
         list_sum([greatest(len(regexp_extract_all(lower(x),
                      '[aeiouy]+')), 1) for x in toks]) AS n_syll
  FROM t WHERE len(toks) > 0)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
             - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
FROM m
"""


@query("readability_scores", _READABILITY_ORACLE)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (public formula; syllables
    approximated as vowel groups — the standard heuristic when no
    dictionary is available): words/sentence and syllables/word both
    fall out of array expressions in ONE projection, no shuffle before
    the per-doc output. The readability band is a routine curation
    feature next to the Gopher gates."""
    d = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    sents = F.filter(
        F.transform(F.split("text", r"[.!?]+"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    syll = F.aggregate(
        F.transform(
            toks,
            lambda x: F.greatest(
                F.size(F.regexp_extract_all(F.lower(x), F.lit("[aeiouy]+"), 0)),
                F.lit(1),
            ),
        ),
        F.lit(0),
        lambda a, x: a + x,
    )
    m = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.greatest(F.size(sents), F.lit(1)).alias("n_sents"),
        syll.alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
            - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch"),
    )


_OLS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
x AS (
  SELECT rev,
         CAST(day - (SELECT MIN(day) FROM daily) AS DOUBLE) AS t
  FROM daily),
s AS (
  SELECT COUNT(*) AS n, SUM(t) AS sx, SUM(rev) AS sy,
         SUM(t * t) AS sxx, SUM(t * rev) AS sxy, SUM(rev * rev) AS syy
  FROM x)
SELECT CAST(n AS BIGINT) AS n_days,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept,
       round(pow(n * sxy - sx * sy, 2)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


@query("revenue_trend_ols", _OLS_ORACLE)
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend over daily revenue: slope, intercept and R²
    from the five running sums — one groupBy to the daily aggregate, one
    5-scalar reduce, zero iteration (the normal equations in their
    1-D special case). The same sums power forecasting sanity checks
    ('is revenue actually trending?') without any ML dependency."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    ).transform(scoped_cache)
    d0 = daily.agg(F.min("day").alias("d0"))
    x = daily.crossJoin(F.broadcast(d0)).select(
        "rev", F.datediff("day", "d0").cast("double").alias("t")
    )
    s = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("sx"),
        F.sum("rev").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
        F.sum(F.col("t") * F.col("rev")).alias("sxy"),
        F.sum(F.col("rev") * F.col("rev")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num / den, 6).alias("slope"),
        F.round((F.col("sy") - num / den * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
        F.round(
            F.pow(num, 2)
            / (den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))),
            6,
        ).alias("r2"),
    )


_FULL_STAR_ORACLE = """
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS n_parts,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY r_name
"""


@query("full_star_join_summary", _FULL_STAR_ORACLE)
def full_star_join_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every table in the schema in ONE star join (7-way): lineitem at
    the center, orders as the one fact-fact shuffle, all five dimensions
    broadcast. Written in the 'wrong' order on purpose — dimensions
    joined before the fact-fact edge — to demonstrate that Catalyst's
    join planning (broadcast detection + AQE) yields the right physical
    shape regardless of the lexical order a user wrote."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey")
    p = _t(spark, sf_dir, "part").select("p_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    dim = F.broadcast(
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
            F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
        ).select("c_custkey", "r_name")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(dim, o["o_custkey"] == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.countDistinct("s_suppkey").cast("bigint").alias("n_suppliers"),
            F.countDistinct("p_partkey").cast("bigint").alias("n_parts"),
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


_RARE_COLLAPSE_ORACLE = """
WITH f AS (
  SELECT p_type, COUNT(*) AS n FROM part GROUP BY p_type),
m AS (
  SELECT p.p_partkey,
         CASE WHEN f.n >= 400 THEN p.p_type ELSE '__other__' END AS lvl
  FROM part p JOIN f ON p.p_type = f.p_type)
SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM m GROUP BY lvl
"""


@query("collapse_rare_categories", _RARE_COLLAPSE_ORACLE)
def collapse_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-level collapsing (the feature-engineering guard against
    high-cardinality categorical blowup): levels below the support
    threshold fold into '__other__' via a broadcast frequency join —
    the level-frequency table is |levels| rows at any data scale, so
    the collapse is one scan + one broadcast regardless of cardinality."""
    p = _t(spark, sf_dir, "part")
    f = p.groupBy("p_type").agg(F.count(F.lit(1)).alias("n"))
    m = p.join(F.broadcast(f), "p_type").select(
        F.when(F.col("n") >= 400, F.col("p_type"))
        .otherwise(F.lit("__other__"))
        .alias("lvl")
    )
    return m.groupBy("lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )


# ===================================================================
# Round-4 wave 25 — relational CEP (pattern negation), positional
# inverted index + phrase search
# ===================================================================

_CEP_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_ts
  FROM events)
SELECT user_id, event_id, ts AS purchase_ts,
       last_view_ts IS NULL
         OR ts - last_view_ts > INTERVAL '30 minutes' AS blind_purchase
FROM e WHERE event_type = 'purchase'
"""


@query("cep_purchase_without_view", _CEP_ORACLE)
def cep_purchase_without_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event pattern with NEGATION — 'purchase NOT preceded by a
    view within 30 minutes' — expressed relationally: a running
    conditional MAX carries each user's latest view timestamp (the
    1-PRECEDING frame excludes the current row), and the pattern
    verdict is a plain comparison. No NFA engine, no per-row state
    machine: one user-keyed window pass at any scale. The
    blind-purchase flag is the classic attribution-gap / bot signal.

    The gap comparison is in MICROSECONDS (unix_micros), not
    cast-to-long epoch seconds: casting each timestamp to long FLOORS
    it, so a true gap of 1800.78s can difference to exactly 1800 and
    flip the > 30min verdict — caught by the sf1.0 oracle sweep (round
    6; 1M events put three purchases within 2s of the boundary, where
    sf0.1's 100k had none). Sub-second boundary events are a
    scale-frequency fact: any threshold comparison must be computed at
    the column's native precision."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    return (
        e.withColumn("last_view_ts", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("purchase_ts"),
            (
                F.col("last_view_ts").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros("last_view_ts")
                    > 30 * 60 * 1_000_000
                )
            ).alias("blind_purchase"),
        )
    )


_PHRASE_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents),
post AS (
  SELECT doc_id, u.tok, u.pos
  FROM t, LATERAL (
    SELECT unnest(toks) AS tok,
           unnest(generate_series(1, len(toks))) AS pos) AS u),
tf AS (SELECT tok, COUNT(*) AS n FROM post GROUP BY tok),
top2 AS (SELECT tok FROM tf ORDER BY n DESC, tok ASC LIMIT 2),
w1 AS (SELECT tok FROM top2 ORDER BY tok ASC LIMIT 1),
w2 AS (SELECT tok FROM top2 ORDER BY tok DESC LIMIT 1),
hits AS (
  SELECT a.doc_id, a.pos AS start_pos
  FROM post a JOIN post b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN w1 ON a.tok = w1.tok
  JOIN w2 ON b.tok = w2.tok)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(start_pos) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
"""


@query("phrase_search_postings", _PHRASE_ORACLE)
def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index + phrase query, fully relational: the
    postings table is (token, doc, position) — one explode, the exact
    shape a search engine shards by token — and a two-token phrase
    match is a self-join on (doc, pos+1) restricted to the phrase's
    tokens. The phrase is chosen data-dependently (the two most frequent
    tokens, in lexical order) so the query is meaningful at any corpus.
    Scale: the restriction to the phrase tokens happens BEFORE the
    positional self-join — only those postings shuffle, the classic
    term-at-a-time evaluation economy."""
    d = _t(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.lower(F.col("text")).alias("__t"))
        .select("doc_id", TX.tokens(F.col("__t")).alias("__toks"))
        .select(
            "doc_id",
            F.posexplode("__toks").alias("__p0", "tok"),
        )
        .select("doc_id", "tok", (F.col("__p0") + 1).alias("pos"))
        .transform(scoped_cache)
    )
    tf = post.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    top2 = tf.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(2)
    w1 = top2.orderBy(F.col("tok").asc()).limit(1).select(
        F.col("tok").alias("__w1")
    )
    w2 = top2.orderBy(F.col("tok").desc()).limit(1).select(
        F.col("tok").alias("__w2")
    )
    a = post.join(F.broadcast(w1), post["tok"] == F.col("__w1")).select(
        "doc_id", F.col("pos").alias("start_pos")
    )
    b = post.join(F.broadcast(w2), post["tok"] == F.col("__w2")).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    hits = a.join(
        b,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("pos_b") == F.col("start_pos") + 1),
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min("start_pos").cast("bigint").alias("first_pos"),
    )


# ===================================================================
# Round-4 wave 26 — time-weighted averages, correlation matrix
# ===================================================================

_TWAP_ORACLE = """
WITH e AS (
  SELECT user_id, ts, value,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_ts
  FROM events),
seg AS (
  SELECT user_id, value,
         CAST(epoch_us(next_ts) - epoch_us(ts) AS DOUBLE) / 1e6 AS dt
  FROM e WHERE next_ts IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       round(SUM(value * dt) / SUM(dt), 6) AS time_weighted_avg,
       round(SUM(dt) / 3600.0, 4) AS observed_hours
FROM seg WHERE user_id IS NOT NULL GROUP BY user_id
HAVING SUM(dt) > 0
"""


@query("time_weighted_avg_value", _TWAP_ORACLE)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over IRREGULARLY sampled values (the TWAP /
    sensor-mean shape — a plain AVG over-weights bursts): each reading
    holds until the next one (lead over the user's time order), so the
    mean is sum(value x holding-time) / total time. One user-keyed
    window + one groupBy; rows with no successor contribute no interval
    (the standard left-closed convention, mirrored in the oracle)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        e.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            "value",
            (
                (F.unix_micros("next_ts") - F.unix_micros("ts")).cast("double")
                / 1e6
            ).alias("dt"),
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
            ).alias("time_weighted_avg"),
            F.round(F.sum("dt") / 3600.0, 4).alias("observed_hours"),
            F.sum("dt").alias("__tot"),
        )
        .filter(F.col("__tot") > 0)
        .drop("__tot")
    )


_CORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(*) FILTER (WHERE event_type = 'view') AS v,
         COUNT(*) FILTER (WHERE event_type = 'click') AS c,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS p
  FROM events GROUP BY 1)
SELECT round(corr(v, c), 6) AS corr_view_click,
       round(corr(v, p), 6) AS corr_view_purchase,
       round(corr(c, p), 6) AS corr_click_purchase,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM daily
"""


@query("event_type_correlations", _CORR_ORACLE)
def event_type_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-metric correlation matrix (do clicks move with views?):
    conditional counts pivot the event stream into per-day metric
    columns in ONE scan, then Pearson correlations between every pair —
    corr is an ordinary distributed aggregate (five running sums per
    pair), no collect, no pandas. The daily pivot is the only shuffle;
    the correlation matrix is a single row regardless of history
    length."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count_if(F.col("event_type") == "view").alias("v"),
        F.count_if(F.col("event_type") == "click").alias("c"),
        F.count_if(F.col("event_type") == "purchase").alias("p"),
    )
    return daily.agg(
        F.round(F.corr("v", "c"), 6).alias("corr_view_click"),
        F.round(F.corr("v", "p"), 6).alias("corr_view_purchase"),
        F.round(F.corr("c", "p"), 6).alias("corr_click_purchase"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


# ===================================================================
# Round-4 wave 27 — churn labeling, exposure conversion, dataset
# content fingerprints
# ===================================================================

_CHURN_ORACLE = """
WITH horizon AS (SELECT MAX(ts) AS h FROM events),
last_seen AS (
  SELECT user_id, MAX(ts) AS last_ts, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
SELECT l.user_id, l.n_events,
       CAST(floor(CAST(epoch_us(horizon.h) - epoch_us(l.last_ts) AS DOUBLE)
                  / 86400e6) AS BIGINT) AS days_inactive,
       epoch_us(horizon.h) - epoch_us(l.last_ts) > 14 * 86400e6 AS churned
FROM last_seen l CROSS JOIN horizon
"""


@query("churn_labels", _CHURN_ORACLE)
def churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label generation (the target column of a retention model):
    a user is churned when inactive for >14 days at the observation
    horizon — the horizon being the data's own max timestamp, so the
    label set is reproducible from the table alone. One groupBy + a
    1-row broadcast; labels join back to any feature table by user."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    horizon = e.agg(F.max("ts").alias("h"))
    last_seen = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    inactive_us = F.unix_micros("h") - F.unix_micros("last_ts")
    return last_seen.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        F.floor(inactive_us.cast("double") / 86400e6)
        .cast("bigint")
        .alias("days_inactive"),
        (inactive_us > 14 * 86400 * 1_000_000).alias("churned"),
    )


_EXPOSURE_ORACLE = """
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS exposed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
SELECT CAST(exposed AS BIGINT) AS exposed,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       round(AVG(CAST(converted AS DOUBLE)), 6) AS conversion_rate
FROM u GROUP BY exposed
"""


@query("click_exposure_conversion", _EXPOSURE_ORACLE)
def click_exposure_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-vs-conversion comparison (the observational uplift
    table): purchase rate among users who ever clicked vs those who
    never did — per-user flags from one conditional-MAX groupBy, rates
    from a two-row aggregate. The honest framing is correlation, not
    causation; the query is the denominator-correct version of the
    metric dashboards usually get wrong (user-level, not event-level)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("exposed"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return u.groupBy(F.col("exposed").cast("bigint").alias("exposed")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.avg(F.col("converted").cast("double")), 6).alias(
            "conversion_rate"
        ),
    )


def _row_fp_sql(cols: str) -> str:
    h = f"substring(md5({cols}), 1, 8)"
    return _hex8_to_int_sql(h)


_DATASET_FP_ORACLE = f"""
SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM({_row_fp_sql("CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || CAST(round(o_totalprice, 2) AS VARCHAR)")}) AS BIGINT) AS fingerprint
FROM orders
UNION ALL
SELECT 'customer', CAST(COUNT(*) AS BIGINT),
       CAST(SUM({_row_fp_sql("CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment")}) AS BIGINT)
FROM customer
UNION ALL
SELECT 'region', CAST(COUNT(*) AS BIGINT),
       CAST(SUM({_row_fp_sql("CAST(r_regionkey AS VARCHAR) || '|' || r_name")}) AS BIGINT)
FROM region
"""


@query("dataset_content_fingerprints", _DATASET_FP_ORACLE)
def dataset_content_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprints (the cache-invalidation /
    reproducibility primitive behind 'did this table change?'): each
    row hashes to a 32-bit integer (md5 prefix) and the table
    fingerprint is their SUM — commutative and associative, so it is
    identical under any partitioning, row order, or engine, and
    incrementally maintainable (add the hashes of inserted rows,
    subtract deleted). One scan per table, one bigint out. Monetary
    values are rounded before hashing so the fingerprint tolerates
    storage-format float formatting, not value changes."""
    def fp(df, cols):
        concat = F.concat_ws("|", *cols)
        h = TX.hex8_to_int(F.md5(concat))
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(h).cast("bigint").alias("fingerprint"),
        )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    r = _t(spark, sf_dir, "region")
    fo = fp(
        o,
        [
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.round("o_totalprice", 2).cast("string"),
        ],
    ).select(F.lit("orders").alias("tbl"), "n_rows", "fingerprint")
    fc = fp(
        c, [F.col("c_custkey").cast("string"), F.col("c_mktsegment")]
    ).select(F.lit("customer").alias("tbl"), "n_rows", "fingerprint")
    fr = fp(
        r, [F.col("r_regionkey").cast("string"), F.col("r_name")]
    ).select(F.lit("region").alias("tbl"), "n_rows", "fingerprint")
    return fo.unionAll(fc).unionAll(fr)


# ===================================================================
# Round-4 wave 28 — nucleus coverage, join fan-out histogram,
# JL random-projection gate
# ===================================================================

_NUCLEUS_ORACLE = """
WITH caps AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> ''))) AS DOUBLE) AS tok
  FROM documents GROUP BY source),
t AS (SELECT SUM(tok) AS total FROM caps),
r AS (
  SELECT source, tok,
         SUM(tok) OVER (ORDER BY tok DESC, source ASC
                        ROWS UNBOUNDED PRECEDING) / t.total AS cum_share
  FROM caps CROSS JOIN t),
k AS (
  SELECT *, lag(cum_share, 1, 0.0)
              OVER (ORDER BY tok DESC, source ASC) AS prev_share
  FROM r)
SELECT source, CAST(tok AS BIGINT) AS tokens,
       round(cum_share, 6) AS cum_share
FROM k WHERE prev_share < 0.9
"""


@query("sources_nucleus_p90", _NUCLEUS_ORACLE)
def sources_nucleus_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) source coverage: the smallest prefix of sources,
    largest first, whose cumulative token share reaches 90% — the
    mixture-analysis companion to the Gini concentration view (how many
    sources actually carry the corpus?). Everything beyond the one
    token-count scan runs on the per-SOURCE aggregate; the boundary
    source is included via the lagged-share test (prev < p <= cum)."""
    d = _t(spark, sf_dir, "documents")
    caps = d.groupBy("source").agg(
        F.sum(TX.token_count("text")).cast("double").alias("tok")
    )
    t = caps.agg(F.sum("tok").alias("total"))
    cum = Window.orderBy(F.col("tok").desc(), F.col("source").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lagw = Window.orderBy(F.col("tok").desc(), F.col("source").asc())
    r = caps.crossJoin(F.broadcast(t)).withColumn(
        "cum_share", F.sum("tok").over(cum) / F.col("total")
    ).withColumn("prev_share", F.lag("cum_share", 1, 0.0).over(lagw))
    return r.filter(F.col("prev_share") < 0.9).select(
        "source",
        F.col("tok").cast("bigint").alias("tokens"),
        F.round("cum_share", 6).alias("cum_share"),
    )


_FANOUT_ORACLE = """
WITH f AS (
  SELECT o_orderkey, COUNT(l_orderkey) AS fanout
  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey)
SELECT CAST(fanout AS BIGINT) AS fanout,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM f GROUP BY fanout
"""


@query("join_fanout_histogram", _FANOUT_ORACLE)
def join_fanout_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion detector: the per-key fan-out histogram of the
    orders-lineitem join (how many fact rows does each key pull?),
    including fanout=0 via the left join — the profile run BEFORE a new
    join ships, because a surprise heavy tail here is tomorrow's skew
    incident. Two groupBys; the second is over |distinct fanouts| rows."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    f = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("fanout"))
    )
    return f.groupBy(F.col("fanout").cast("bigint").alias("fanout")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@query(
    "jl_projection_gate",
    "SELECT true AS norms_preserved, true AS distances_preserved",
)
def jl_projection_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (the cheap dimensionality
    crunch before ANN: 64 -> 32 dims with distances approximately
    preserved): a seeded Gaussian matrix (literal columns — no UDF, no
    driver data) projects every embedding in one whole-stage-codegen
    projection. Gates, computed distributively: (a) the median ratio of
    projected to original squared norm lies in [0.6, 1.4]; (b) across a
    deterministic pair sample (vec i with vec i+250), the squared
    pairwise-DISTANCE distortion stays within the JL envelope — median
    in [0.7, 1.4], 5th/95th percentiles inside [0.3, 2.2]. Distance
    preservation (not ranking) is what JL guarantees; on this corpus the
    neighbor margins are far below the distortion at 2x compression, so
    a top-k recall gate would test the DATA, not the projection."""
    from etl_bigquery_pipeline_spark.operators import similarity

    planes = similarity._hyperplanes(_DIM, 32, seed=7)
    scale = 1.0 / (32 ** 0.5)
    # hoist the float->double array cast into its own projection: the 32
    # plane products and the carried "orig" column all read the SAME
    # cast array attribute instead of each re-casting (and re-allocating)
    # the 64-element array per output dim — 33 casts per row become 1
    # (guide §1.2 step 2: per-task work; numerically identical, the cast
    # then the ops are unchanged)
    cast_emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("orig")
    )
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("orig"),
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * scale
        for plane in planes
    ]
    p = cast_emb.select(
        "vec_id",
        "label",
        F.array(*proj_cols).alias("proj"),
        "orig",
    ).transform(scoped_cache)
    sq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x
    )
    ratios = p.select(
        F.try_divide(sq(F.col("proj")), sq(F.col("orig"))).alias("r")
    )
    # per-vector ratios are corpus-proportional: exact medians run on
    # the histogram plan, not percentile()'s per-task value buffer
    med_f = windows.exact_percentiles(ratios, None, "r", [0.5], ["m"])

    a = p.select(
        F.col("vec_id").alias("ia"),
        F.col("proj").alias("pa"),
        F.col("orig").alias("oa"),
    )
    b = p.select(
        (F.col("vec_id") - 250).alias("ia"),
        F.col("proj").alias("pb"),
        F.col("orig").alias("ob"),
    )
    d2 = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda u, v: (u - v) * (u - v)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    dist = a.join(b, "ia").select(
        F.try_divide(
            d2(F.col("pa"), F.col("pb")), d2(F.col("oa"), F.col("ob"))
        ).alias("r")
    )
    # one driver action instead of two: both percentile frames crossJoin
    # into a single plan and the bounds evaluate in-plan (each helper
    # still pays its internal running-sum offset collect)
    q = windows.exact_percentiles(
        dist, None, "r", [0.05, 0.5, 0.95], ["p05", "p50", "p95"]
    )
    return med_f.crossJoin(q).select(
        ((F.col("m") >= 0.6) & (F.col("m") <= 1.4)).alias("norms_preserved"),
        (
            (F.col("p50") >= 0.7)
            & (F.col("p50") <= 1.4)
            & (F.col("p05") >= 0.3)
            & (F.col("p95") <= 2.2)
        ).alias("distances_preserved"),
    )


# ===================================================================
# Round-4 wave 29 — session path mining, geospatial grid, calendar dim
# ===================================================================

_PATHS_ORACLE = """
WITH o AS (
  SELECT user_id,
         string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
t AS (
  SELECT list_filter(regexp_split_to_array(seq, ' '), x -> x <> '') AS s
  FROM o),
g AS (
  SELECT unnest([array_to_string(s[i:i+2], ' > ')
                 for i in generate_series(1, len(s) - 2)]) AS path
  FROM t WHERE len(s) >= 3),
c AS (SELECT path, COUNT(*) AS n FROM g GROUP BY path),
r AS (
  SELECT path, CAST(n AS BIGINT) AS n,
         ROW_NUMBER() OVER (ORDER BY n DESC, path ASC) AS rn
  FROM c)
SELECT path, n FROM r WHERE rn <= 10
"""


@query("top_session_paths", _PATHS_ORACLE)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 10 most common 3-step event sequences across
    user timelines (the what-do-people-actually-do view funnels are
    built from). Ordered sequences come from the deterministic
    struct-sorted collect (the session_transcripts machinery), trigrams
    from one slice-transform explode; the count groupBy is keyed by
    path string — at most |event_types|^3 groups at any scale."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    seqs = (
        e.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("__ord")
        )
        .select(
            F.transform(F.col("__ord"), lambda s: s["event_type"]).alias("s")
        )
        .filter(F.size("s") >= 3)
    )
    g = seqs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("s") - 2),
                lambda i: F.array_join(F.slice("s", i, 3), " > "),
            )
        ).alias("path")
    )
    c = g.groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("path", "n")
    )


_GEO_ORACLE = f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
pos AS (
  SELECT user_id,
         (({_hex8_to_int_sql("substring(md5('lat:' || CAST(user_id AS VARCHAR)), 1, 8)")}) % 120000) / 1000.0 - 60.0 AS lat,
         (({_hex8_to_int_sql("substring(md5('lon:' || CAST(user_id AS VARCHAR)), 1, 8)")}) % 360000) / 1000.0 - 180.0 AS lon
  FROM u),
d AS (
  SELECT user_id, lat, lon,
         CAST(floor(lat / 10) AS BIGINT) AS cell_lat,
         CAST(floor(lon / 10) AS BIGINT) AS cell_lon,
         2 * 6371.0 * asin(sqrt(
           pow(sin(radians(lat - 40.0) / 2), 2)
           + cos(radians(40.0)) * cos(radians(lat))
             * pow(sin(radians(lon - (-74.0)) / 2), 2))) AS km_from_nyc
  FROM pos)
SELECT cell_lat, cell_lon,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(MIN(km_from_nyc), 3) AS min_km_from_nyc
FROM d GROUP BY cell_lat, cell_lon
"""


@query("geo_grid_density", _GEO_ORACLE)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial grid aggregation: users get deterministic synthetic
    coordinates (md5 draws — the corpus has no geo columns, so the
    PLUMBING is what this verifies), bucket into 10-degree cells (the
    geohash-style spatial partition key), and compute great-circle
    haversine distance from a fixed point — all JVM trig, replayed
    exactly by the oracle. At scale the cell key is the spatial
    equi-join/pruning device: radius queries prune to candidate cells
    before any distance math."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    u = e.select("user_id").distinct()

    def draw(salt, mod, scale, shift):
        h = TX.hex8_to_int(
            F.md5(F.concat(F.lit(salt), F.col("user_id").cast("string")))
        )
        return (h % mod) / scale - shift

    pos = u.select(
        "user_id",
        draw("lat:", 120000, 1000.0, 60.0).alias("lat"),
        draw("lon:", 360000, 1000.0, 180.0).alias("lon"),
    )
    lat0, lon0 = 40.0, -74.0
    hav = (
        2.0
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - lat0) / 2), 2)
                + F.cos(F.radians(F.lit(lat0)))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - lon0) / 2), 2)
            )
        )
    )
    d = pos.select(
        F.floor(F.col("lat") / 10).cast("bigint").alias("cell_lat"),
        F.floor(F.col("lon") / 10).cast("bigint").alias("cell_lon"),
        hav.alias("km_from_nyc"),
    )
    return d.groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.min("km_from_nyc"), 3).alias("min_km_from_nyc"),
    )


_CALENDAR_ORACLE = """
WITH bounds AS (
  SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
  FROM events),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds)
SELECT day,
       CAST(EXTRACT(isodow FROM day) AS BIGINT) AS iso_dow,
       EXTRACT(isodow FROM day) >= 6 AS is_weekend,
       CAST(EXTRACT(month FROM day) AS BIGINT) AS month,
       CAST(EXTRACT(quarter FROM day) AS BIGINT) AS quarter,
       CAST(date_trunc('month', day) AS DATE) AS month_start
FROM spine
"""


@query("calendar_dimension_build", _CALENDAR_ORACLE)
def calendar_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generation (the date spine every gap-filling
    and fiscal-reporting join needs): sequence() from the data's own
    bounds, one row per day with ISO weekday, weekend flag, month and
    quarter attributes — derived columns only, no source scan beyond
    the 2-scalar bounds aggregate. Calendar-bounded rows at any data
    scale; broadcast it against any fact table."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return spine.select(
        "day",
        F.dayofweek("day").alias("__dow_sun1"),
        F.month("day").cast("bigint").alias("month"),
        F.quarter("day").cast("bigint").alias("quarter"),
        F.date_trunc("month", "day").cast("date").alias("month_start"),
    ).select(
        "day",
        # ISO weekday (Mon=1..Sun=7) from Spark's Sunday=1 convention
        ((F.col("__dow_sun1") + 5) % 7 + 1).cast("bigint").alias("iso_dow"),
        (((F.col("__dow_sun1") + 5) % 7 + 1) >= 6).alias("is_weekend"),
        "month",
        "quarter",
        "month_start",
    )


# ===================================================================
# Round-4 wave 30 — kNN outliers, null patterns, FK discovery
# ===================================================================

_KNN_OUT_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 25 = 0 AND vec_id < {_ANN_PANEL_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, {{cos}} AS sim
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
r AS (
  SELECT query_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM s),
m AS (
  SELECT query_id, round(AVG(sim), 6) AS knn_sim
  FROM r WHERE rn <= 5 GROUP BY query_id),
z AS (
  SELECT query_id, knn_sim,
         CAST(ROW_NUMBER() OVER (ORDER BY knn_sim ASC, query_id ASC)
              AS BIGINT) AS isolation_rank
  FROM m)
SELECT query_id, knn_sim, isolation_rank FROM z WHERE isolation_rank <= 5
"""


@query(
    "knn_distance_outliers",
    _KNN_OUT_ORACLE.replace("{cos}", _cosine_sql("qv", "cv")),
)
def knn_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier scoring (the distance-based anomaly family:
    a point whose 5 nearest neighbors are still far away sits in sparse
    space): mean top-5 cosine similarity per probe, lowest-5 flagged as
    most isolated. Reuses the broadcast-probe cosine_topk machinery —
    corpus scanned once, probes broadcast; the isolation ranking runs
    over |probes| rows. The embedding-space twin of MAD/z-score tabular
    outliers: useful for hunting mislabeled or off-distribution
    documents before training."""
    from etl_bigquery_pipeline_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    probes = _ann_panel(emb, 25)
    topk = similarity.cosine_topk(
        emb, probes, k=5, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    )
    m = topk.groupBy("query_id").agg(
        F.round(F.avg("sim"), 6).alias("knn_sim")
    )
    w = Window.orderBy(F.col("knn_sim").asc(), F.col("query_id").asc())
    return (
        m.withColumn("isolation_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("isolation_rank") <= 5)
    )


_NULL_PATTERN_ORACLE = """
WITH p AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS a,
         CASE WHEN o_orderkey % 21 = 0 THEN NULL ELSE o_totalprice END AS b,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderstatus END AS c
  FROM orders)
SELECT concat(CASE WHEN a IS NULL THEN 'N' ELSE '-' END,
              CASE WHEN b IS NULL THEN 'N' ELSE '-' END,
              CASE WHEN c IS NULL THEN 'N' ELSE '-' END) AS pattern,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM p GROUP BY 1
"""


@query("null_pattern_profile", _NULL_PATTERN_ORACLE)
def null_pattern_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-pattern analysis (the step before choosing an
    imputation strategy: are nulls independent or co-occurring?): each
    row maps to its null-indicator string across the audited columns,
    one groupBy counts the patterns. The planted nulls share a factor
    (%7 and %21), so the 'NN-' co-occurrence pattern shows up exactly
    where MCAR would predict none — the signal this profile exists to
    catch. At most 2^k patterns regardless of row count."""
    o = _t(spark, sf_dir, "orders")
    p = o.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("o_custkey"))
        .alias("a"),
        F.when(F.col("o_orderkey") % 21 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("b"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderstatus"))
        .alias("c"),
    )
    ind = lambda col: F.when(F.col(col).isNull(), "N").otherwise("-")  # noqa: E731
    return (
        p.select(
            F.concat(ind("a"), ind("b"), ind("c")).alias("pattern")
        )
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


_INCLUSION_ORACLE = """
WITH pairs AS (
  SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS fk,
         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_child,
         (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) a
          WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = a.l_orderkey))
           AS n_contained
  UNION ALL
  SELECT 'lineitem.l_partkey -> part.p_partkey',
         (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
         (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) a
          WHERE EXISTS (SELECT 1 FROM part WHERE p_partkey = a.l_partkey))
  UNION ALL
  SELECT 'orders.o_custkey -> customer.c_custkey',
         (SELECT COUNT(DISTINCT o_custkey) FROM orders),
         (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) a
          WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = a.o_custkey))
  UNION ALL
  SELECT 'customer.c_custkey -> orders.o_custkey',
         (SELECT COUNT(DISTINCT c_custkey) FROM customer),
         (SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer) a
          WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = a.c_custkey)))
SELECT fk, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_contained AS BIGINT) AS n_contained,
       round(CAST(n_contained AS DOUBLE) / n_child, 6) AS inclusion,
       n_contained = n_child AS is_foreign_key
FROM pairs
"""


@query("inclusion_dependency_profile", _INCLUSION_ORACLE)
def inclusion_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key DISCOVERY via inclusion coefficients (the profiling
    companion to candidate_key_profile: candidate keys say what could be
    referenced, inclusion says what actually references it): for each
    candidate (child, parent) pair, the fraction of distinct child
    values contained in the parent — 1.0 means the FK holds, and the
    deliberately-reversed customer->orders pair shows a real non-FK
    (customers without orders). Each pair is ONE lazy aggregate over a
    broadcast left join (count of matches == the semi-join count since
    both sides are distinct); the four 1-row frames union into a single
    plan, so the whole profile is one driver action — the r11 shape ran
    2 count() actions per pair, 8 per query (guide §1.2: fewer passes/
    actions before per-task tuning)."""
    def coeff(child, ccol, parent, pcol, label):
        a = child.select(F.col(ccol).alias("k")).distinct()
        pmark = (
            parent.select(F.col(pcol).alias("k"))
            .distinct()
            .withColumn("__m", F.lit(1))
        )
        return a.join(F.broadcast(pmark), "k", "left").agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.count("__m").cast("bigint").alias("n_contained"),
        )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    frames = [
        coeff(li, "l_orderkey", o, "o_orderkey",
              "lineitem.l_orderkey -> orders.o_orderkey"),
        coeff(li, "l_partkey", p, "p_partkey",
              "lineitem.l_partkey -> part.p_partkey"),
        coeff(o, "o_custkey", c, "c_custkey",
              "orders.o_custkey -> customer.c_custkey"),
        coeff(c, "c_custkey", o, "o_custkey",
              "customer.c_custkey -> orders.o_custkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.select(
        "fk",
        "n_child",
        "n_contained",
        F.round(F.col("n_contained").cast("double") / F.col("n_child"), 6).alias(
            "inclusion"
        ),
        (F.col("n_contained") == F.col("n_child")).alias("is_foreign_key"),
    )


# ===================================================================
# Round-4 wave 31 — YoY growth, reactivation detection, embedding drift
# ===================================================================

_YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
j AS (
  SELECT m.month, m.rev, p.rev AS rev_last_year
  FROM monthly m
  LEFT JOIN monthly p ON p.month = m.month - INTERVAL 1 YEAR)
SELECT month, round(rev, 2) AS rev,
       round(rev_last_year, 2) AS rev_last_year,
       round((rev - rev_last_year) / rev_last_year, 6) AS yoy_growth
FROM j WHERE rev_last_year IS NOT NULL
"""


@query("yoy_revenue_growth", _YOY_ORACLE)
def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth by calendar alignment (the seasonal
    companion to mom_revenue_growth's positional lag): each month joins
    its same-month-last-year row by DATE arithmetic, not row offset —
    immune to gaps in the month sequence, which is exactly where a
    lag(12) silently compares the wrong months. Self-join over the
    monthly aggregate (calendar-bounded rows)."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    ).transform(scoped_cache)
    prev = monthly.select(
        F.add_months(F.col("month"), 12).alias("month"),
        F.col("rev").alias("rev_last_year"),
    )
    return (
        monthly.join(prev, "month")
        .select(
            "month",
            F.round("rev", 2).alias("rev"),
            F.round("rev_last_year", 2).alias("rev_last_year"),
            F.round(
                (F.col("rev") - F.col("rev_last_year")) / F.col("rev_last_year"),
                6,
            ).alias("yoy_growth"),
        )
    )


_REACTIVATED_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE user_id IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) FILTER (
         WHERE prev_ts IS NOT NULL
           AND epoch_us(ts) - epoch_us(prev_ts) > 14 * 86400e6)
       AS BIGINT) AS n_reactivations,
       CAST(floor(MAX(epoch_us(ts) - epoch_us(prev_ts)) / 86400e6)
            AS BIGINT) AS longest_gap_days
FROM e GROUP BY user_id
HAVING COUNT(*) FILTER (
  WHERE prev_ts IS NOT NULL
    AND epoch_us(ts) - epoch_us(prev_ts) > 14 * 86400e6) > 0
"""


@query("reactivated_users", _REACTIVATED_ORACLE)
def reactivated_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy reactivation (the win-back signal churn_labels can't
    see: the user came BACK): events arriving after a >14-day silence
    per user, counted with the longest observed gap. One lag over the
    user timeline + one groupBy — the same window pass sessionization
    makes, with a different gap threshold reading."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    g = e.withColumn("gap_us", gap_us)
    react = F.count_if(F.col("gap_us") > 14 * 86400 * 1_000_000)
    return (
        g.groupBy("user_id")
        .agg(
            react.cast("bigint").alias("n_reactivations"),
            F.floor(F.max("gap_us") / 86400e6).cast("bigint").alias(
                "longest_gap_days"
            ),
        )
        .filter(F.col("n_reactivations") > 0)
    )


_EMB_DRIFT_ORACLE = f"""
WITH h AS (
  SELECT CASE WHEN vec_id < (SELECT MAX(vec_id) FROM embeddings) / 2
              THEN 0 ELSE 1 END AS half,
         embedding
  FROM embeddings),
m AS (
  SELECT half, i AS dim, avg(CAST(embedding[i] AS DOUBLE)) AS mu
  FROM h, generate_series(1, {{dim}}) AS g(i)
  GROUP BY half, i),
c AS (
  SELECT a.dim, a.mu AS mu0, b.mu AS mu1
  FROM m a JOIN m b ON a.dim = b.dim AND a.half = 0 AND b.half = 1)
SELECT round(sqrt(SUM((mu0 - mu1) * (mu0 - mu1))), 6) AS centroid_shift,
       round(sqrt(SUM(mu0 * mu0)), 6) AS centroid_norm_first,
       round(sqrt(SUM(mu1 * mu1)), 6) AS centroid_norm_second
FROM c
"""


@query(
    "embedding_drift_gate", _EMB_DRIFT_ORACLE.replace("{dim}", str(64))
)
def embedding_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (the vector twin of the tabular PSI drift
    check): split the corpus into first/second halves by id, compute
    each half's centroid via one explode-groupBy pass, and report the
    L2 centroid shift against the centroid norms for scale. At
    production scale the halves are yesterday/today batches and the
    gate thresholds the shift; here the two halves of one synthetic
    draw give a near-zero shift — the null-hypothesis reading the
    threshold would be calibrated on."""
    e = _t(spark, sf_dir, "embeddings")
    mx = e.agg(F.max("vec_id").alias("m"))
    h = e.crossJoin(F.broadcast(mx)).select(
        F.when(F.col("vec_id") < F.col("m") / 2, 0).otherwise(1).alias("half"),
        "embedding",
    )
    ex = h.select(
        "half",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "__p", "v"
        ),
    ).select("half", (F.col("__p") + 1).alias("dim"), "v")
    m = ex.groupBy("half", "dim").agg(F.avg("v").alias("mu"))
    a = m.filter(F.col("half") == 0).select("dim", F.col("mu").alias("mu0"))
    b = m.filter(F.col("half") == 1).select("dim", F.col("mu").alias("mu1"))
    c = a.join(b, "dim")
    return c.agg(
        F.round(
            F.sqrt(F.sum((F.col("mu0") - F.col("mu1")) ** 2)), 6
        ).alias("centroid_shift"),
        F.round(F.sqrt(F.sum(F.col("mu0") ** 2)), 6).alias(
            "centroid_norm_first"
        ),
        F.round(F.sqrt(F.sum(F.col("mu1") ** 2)), 6).alias(
            "centroid_norm_second"
        ),
    )


# ===================================================================
# Round-4 wave 32 — key-skew profile, weighted median, CUSUM
# change-point detection
# ===================================================================

_SKEW_PROFILE_ORACLE = """
WITH g AS (
  SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
t AS (
  SELECT SUM(n) AS total, COUNT(*) AS k, MAX(n) AS mx,
         quantile_cont(n, 0.5) AS p50, quantile_cont(n, 0.99) AS p99
  FROM g)
SELECT CAST(k AS BIGINT) AS n_keys,
       round(mx / total, 6) AS top_key_share,
       round(p99 / p50, 4) AS p99_over_p50,
       round(mx / (total / k), 4) AS max_over_mean
FROM t
"""


@query("key_skew_profile", _SKEW_PROFILE_ORACLE)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (run BEFORE keying a join or agg on a
    column — the numeric answer to 'will one reducer own this?'):
    per-key group sizes, then the ratios that predict trouble — top key
    share of all rows, p99/p50 group size, and max-over-mean (the
    straggler factor a perfectly even shuffle would put at 1.0). The
    decision input for salting/AQE-skew handling, computed as one
    groupBy + one scalar aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # per-key counts are corpus-proportional (one row per user), so the
    # group-size percentiles run on the histogram plan — and the
    # histogram of COUNTS is tiny (distinct group sizes, not groups)
    g = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).transform(scoped_cache)
    pcts = windows.exact_percentiles(
        g, None, "n", [0.99, 0.5], ["__p99", "__p50"]
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_key_share"),
        F.round(F.max("n") / (F.sum("n") / F.count(F.lit(1))), 4).alias(
            "max_over_mean"
        ),
    )
    return agg.crossJoin(F.broadcast(pcts)).select(
        "n_keys",
        "top_key_share",
        F.round(F.col("__p99") / F.col("__p50"), 4).alias("p99_over_p50"),
        "max_over_mean",
    )


_WMEDIAN_ORACLE = """
WITH w AS (
  SELECT round(l_extendedprice, 2) AS price, SUM(l_quantity) AS wt
  FROM lineitem GROUP BY 1),
o AS (
  SELECT price,
         SUM(wt) OVER (ORDER BY price ASC ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wt) OVER () AS total
  FROM w)
SELECT MIN(price) AS weighted_median_price
FROM o WHERE cum >= total / 2
"""


@query("weighted_median_price", _WMEDIAN_ORACLE)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (the quantity-weighted 'typical unit price' a
    plain median of line items distorts): collapse weights per price,
    walk the cumulative weight to the 50% crossing. The running sum is
    the distributed range-partition + offsets machinery
    (windows.with_running_sums) — never a single-partition
    window; one value returns."""
    li = _t(spark, sf_dir, "lineitem")
    # collapse to per-price weights first (groupBy), then the running
    # sum runs through the distributed range-partition + offsets
    # machinery — never a single-partition global window. l_quantity is
    # integer-valued, so the distributed partial sums are bit-exact.
    w = li.select(
        F.round("l_extendedprice", 2).alias("price"),
        F.col("l_quantity").alias("wt"),
    ).groupBy("price").agg(F.sum("wt").alias("wt"))
    r, _ = windows.with_running_sums(w, ["price"], ["wt"])
    tot = w.agg(F.sum("wt").alias("total"))
    return (
        r.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_wt") >= F.col("total") / 2)
        .agg(F.min("price").alias("weighted_median_price"))
    )


_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
m AS (SELECT AVG(rev) AS mu FROM daily),
c AS (
  SELECT day, rev,
         SUM(rev - m.mu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           AS cusum
  FROM daily CROSS JOIN m),
r AS (
  SELECT day, round(cusum, 2) AS cusum,
         ROW_NUMBER() OVER (ORDER BY abs(cusum) DESC, day ASC) AS rn
  FROM c)
SELECT day AS changepoint_day, cusum AS cusum_at_peak FROM r WHERE rn = 1
"""


@query("revenue_changepoint_cusum", _CUSUM_ORACLE)
def revenue_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (public technique: the running sum
    of deviations from the global mean peaks where the level shifted):
    one pass to the daily aggregate, one calendar-bounded ordered
    window, and the argmax |CUSUM| is the single most likely
    change-point day — the question 'when did revenue regime-change?'
    answered without any model fitting."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    ).transform(scoped_cache)
    m = daily.agg(F.avg("rev").alias("mu"))
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = daily.crossJoin(F.broadcast(m)).select(
        "day", F.sum(F.col("rev") - F.col("mu")).over(cum).alias("cusum")
    )
    w = Window.orderBy(F.abs(F.col("cusum")).desc(), F.col("day").asc())
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.round("cusum", 2).alias("cusum_at_peak"),
        )
    )


# ===================================================================
# Round-4 wave 33 — business-day arithmetic, bool_and/bool_or
# fulfillment classification
# ===================================================================

_BIZ_DAYS_ORACLE = """
WITH j AS (
  SELECT l_orderkey, l_linenumber,
         CAST(o_orderdate AS DATE) AS d0, CAST(l_shipdate AS DATE) AS d1
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= o_orderdate AND l_orderkey % 50 = 0),
b AS (
  SELECT l_orderkey, l_linenumber,
         len(list_filter(generate_series(d0, d1 - INTERVAL 1 DAY,
                                         INTERVAL 1 DAY),
                         d -> EXTRACT(isodow FROM d) <= 5)) AS biz_days
  FROM j)
SELECT l_orderkey, l_linenumber, CAST(biz_days AS BIGINT) AS business_days
FROM b
"""


@query("business_days_to_ship", _BIZ_DAYS_ORACLE)
def business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day arithmetic (SLA reporting counts weekdays, not
    calendar days): expand each order->ship interval into its date
    sequence and count ISO weekdays — exact for any span, array
    expressions only (no calendar join). Sampled to every 50th order:
    the per-row array is span-length-bounded, so the operator's cost is
    rows x average span, the same economics as the chunking family.
    Spark's weekday() is Monday=0, so <= 4 marks weekdays; the oracle
    uses isodow <= 5 — same set, different convention, hash-identical
    counts."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("o_orderdate").cast("date").alias("d0"),
            F.col("l_shipdate").cast("date").alias("d1"),
        )
    )
    days = F.sequence(
        F.col("d0"), F.date_sub(F.col("d1"), 1), F.expr("INTERVAL 1 DAY")
    )
    biz = F.size(F.filter(days, lambda d: F.weekday(d) <= 4))
    return j.select(
        "l_orderkey",
        "l_linenumber",
        # empty interval (same-day ship): sequence(d0, d0-1) is invalid,
        # so guard to zero
        F.when(F.col("d1") > F.col("d0"), biz)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("business_days"),
    )


_FULFILL_ORACLE = """
WITH s AS (
  SELECT l_orderkey,
         bool_and(l_linestatus = 'F') AS all_f,
         bool_or(l_linestatus = 'F') AS any_f
  FROM lineitem GROUP BY l_orderkey)
SELECT CASE WHEN all_f THEN 'fulfilled'
            WHEN any_f THEN 'partial'
            ELSE 'open' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM s GROUP BY 1
"""


@query("order_fulfillment_status", _FULFILL_ORACLE)
def order_fulfillment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universal/existential aggregation (bool_and / bool_or — the ALL
    and ANY quantifiers as grouped aggregates): classify each order by
    whether ALL, SOME, or NONE of its lines are finalized. One groupBy
    carrying two booleans per order; the classification is a projection.
    The pattern behind every 'is the batch fully processed?' gate."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_orderkey").agg(
        F.bool_and(F.col("l_linestatus") == "F").alias("all_f"),
        F.bool_or(F.col("l_linestatus") == "F").alias("any_f"),
    )
    status = (
        F.when(F.col("all_f"), "fulfilled")
        .when(F.col("any_f"), "partial")
        .otherwise("open")
    )
    return s.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


# ===================================================================
# Round-4 wave 34 — interval-union sweep line, HLL set algebra,
# empirical-CDF resampling
# ===================================================================

_COVERED_ORACLE = """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL '5 minutes' AS e
  FROM events WHERE user_id IS NOT NULL),
pts AS (
  SELECT user_id, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT user_id, e, -1 FROM iv),
sw AS (
  SELECT user_id, t, d,
         SUM(d) OVER (PARTITION BY user_id ORDER BY t, d DESC
                      ROWS UNBOUNDED PRECEDING) AS active,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, d DESC) AS nxt
  FROM pts)
SELECT user_id,
       CAST((CAST(SUM(CASE WHEN active > 0 AND nxt IS NOT NULL
                           THEN epoch_us(nxt) - epoch_us(t)
                           ELSE 0 END) AS BIGINT) + 3000) // 6000
            AS DOUBLE) / 1e4 AS covered_minutes
FROM sw GROUP BY user_id
"""


@query("covered_time_per_user", _COVERED_ORACLE)
def covered_time_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION length (overlaps counted once — the question 'how
    long was the user actually active?' that summing per-event windows
    double-counts): the classic sweep line, relationally — each 5-minute
    activity interval emits +1/-1 endpoints, a per-user running sum
    tracks the active count, and segments where active > 0 contribute
    their length. End-before-start ordering at ties (d DESC puts +1
    first) makes touching intervals merge. One user-keyed window pass;
    the same shape computes concurrent-load curves and SLA coverage.

    Covered time is summed as EXACT integer microseconds and rounded to
    4 decimals in integer arithmetic ((us + 3000) div 6000, one final
    /1e4) — a double sum over thousands of segments per user differed
    from DuckDB in the last ulp at sf10 (1M events) and flipped the
    4-decimal rounding (caught by the r7 sf10 sweep; same class and
    same cure as funnel_click_to_purchase at sf1.0)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    iv = e.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t"), F.col("d").desc())
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sw = pts.select(
        "user_id",
        "t",
        F.sum("d").over(cum).alias("active"),
        F.lead("t").over(w).alias("nxt"),
    )
    seg_us = F.when(
        (F.col("active") > 0) & F.col("nxt").isNotNull(),
        F.unix_micros("nxt") - F.unix_micros("t"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        sw.groupBy("user_id")
        .agg(F.sum(seg_us).alias("__us"))
        .select(
            "user_id",
            (
                F.expr("(__us + 3000) div 6000").cast("double") / 1e4
            ).alias("covered_minutes"),
        )
    )


@query(
    "hll_intersection_estimate_gate",
    "SELECT true AS within_tolerance",
)
def hll_intersection_estimate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: intersection size from HLL sketches via
    inclusion-exclusion (|A n B| = |A| + |B| - |A u B|, the union being
    the one operation HLL supports natively). Estimates the overlap
    between customers with orders below/above the median order value —
    two sketches + one union, no join of the underlying sets — and
    gates it against the exact overlap within 15% + a small absolute
    slack (inclusion-exclusion compounds the per-sketch error; that
    compounding is WHY the gate exists — it documents the technique's
    real tolerance, not an idealized one)."""
    o = _t(spark, sf_dir, "orders").transform(scoped_cache)
    # histogram-plan median (not percentile()'s per-task value buffer —
    # o_totalprice over a raw fact is the r8 sf10 OOM class)
    med = windows.exact_percentiles(o, None, "o_totalprice", [0.5], ["m"])
    # one pass builds BOTH sketches (hll_sketch_agg skips the nulls the
    # when() leaves on the other side's rows — the sketches see exactly
    # the lo/hi key multisets, so register states and estimates are
    # identical to the r10 two-scan form) and the binary hll_union
    # replaces the union_agg pass: 3 driver actions + 3 scans become 1
    # (guide §1.2/§2.4 — fewer passes before anything else)
    flags = o.crossJoin(F.broadcast(med)).select(
        "o_custkey", (F.col("o_totalprice") < F.col("m")).alias("__lo")
    )
    row = (
        flags.agg(
            F.hll_sketch_agg(
                F.when(F.col("__lo"), F.col("o_custkey"))
            ).alias("sk_lo"),
            F.hll_sketch_agg(
                F.when(~F.col("__lo"), F.col("o_custkey"))
            ).alias("sk_hi"),
        )
        .select(
            F.hll_sketch_estimate("sk_lo").alias("na"),
            F.hll_sketch_estimate("sk_hi").alias("nb"),
            F.hll_sketch_estimate(
                F.hll_union("sk_lo", "sk_hi")
            ).alias("nu"),
        )
    )
    # exact |lo n hi| as one grouped aggregate over the same flag frame
    # (a custkey is in the intersection iff it carries both flag values)
    # instead of intersect()'s two distincts + join
    exact = (
        flags.groupBy("o_custkey")
        .agg(
            F.max(F.col("__lo")).alias("__a"),
            F.max(~F.col("__lo")).alias("__b"),
        )
        .filter(F.col("__a") & F.col("__b"))
        .agg(F.count(F.lit(1)).alias("__exact"))
    )
    # one driver action instead of two: exact overlap as a 1-row frame
    # crossJoined with the sketch row, bound evaluated in-plan (same
    # abs/mult/greatest arithmetic over the same doubles)
    return row.crossJoin(exact).select(
        (
            F.abs(
                F.col("na") + F.col("nb") - F.col("nu") - F.col("__exact")
            )
            <= F.greatest(
                F.lit(0.15) * F.greatest(F.col("__exact"), F.lit(1)),
                F.lit(50),
            )
        ).alias("within_tolerance")
    )


_RESAMPLE_ORACLE = """
WITH src AS (
  SELECT c_acctbal,
         CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS DOUBLE)
           / (SELECT COUNT(*) FROM customer) AS cdf
  FROM customer),
draws AS (
  SELECT i,
         (({hex}) % 100000 + 1) / 100001.0 AS u
  FROM generate_series(1, 500) AS g(i)),
m AS (
  SELECT d.i, d.u,
         (SELECT MIN(s.c_acctbal) FROM src s WHERE s.cdf >= d.u) AS v
  FROM draws d)
SELECT CAST(COUNT(*) AS BIGINT) AS n_draws,
       round(AVG(v), 4) AS resampled_mean,
       round(quantile_cont(v, 0.5), 4) AS resampled_median
FROM m
"""


@query(
    "empirical_resample_stats",
    _RESAMPLE_ORACLE.replace(
        "{hex}",
        _hex8_to_int_sql("substring(md5('draw:' || CAST(i AS VARCHAR)), 1, 8)"),
    ),
)
def empirical_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-transform sampling from an EMPIRICAL distribution (the
    synthetic-data generator that matches a real column's shape):
    deterministic md5 uniforms map through the account-balance ECDF via
    an as-of lookup (smallest value whose CDF >= u). The ECDF ranks use
    the distributed global numbering; the 500 draws broadcast against
    the sorted quantile table — a range join at scale. Output is the
    resample's summary stats, which converge on the source's as draws
    grow."""
    c = _t(spark, sf_dir, "customer")
    ranked, total = windows.with_global_row_number(
        c.select("c_acctbal", "c_custkey"), ["c_acctbal", "c_custkey"],
        rn_col="__rn",
    )
    src = ranked.select(
        "c_acctbal", (F.col("__rn").cast("double") / total).alias("cdf")
    )
    draws = spark.range(1, 501).select(
        F.col("id").alias("i"),
        (
            (
                TX.hex8_to_int(
                    F.md5(F.concat(F.lit("draw:"), F.col("id").cast("string")))
                )
                % 100000
                + 1
            )
            / 100001.0
        ).alias("u"),
    )
    # as-of lookup: min value whose cdf >= u (draws broadcast; at scale
    # this is a range join against the sorted quantile table)
    m = (
        src.join(F.broadcast(draws), F.col("cdf") >= F.col("u"))
        .groupBy("i")
        .agg(F.min("c_acctbal").alias("v"))
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_draws"),
        F.round(F.avg("v"), 4).alias("resampled_mean"),
        F.round(F.expr("percentile(v, 0.5)"), 4).alias("resampled_median"),
    )


# ===================================================================
# Round-4 wave 35 — decayed popularity, largest-remainder allocation
# ===================================================================

_DECAYED_ORACLE = """
WITH mx AS (SELECT MAX(l_shipdate) AS m FROM lineitem),
w AS (
  SELECT l_partkey,
         round(SUM(exp(-CAST(epoch_us(mx.m) - epoch_us(l_shipdate) AS DOUBLE)
                       / (30.0 * 86400e6))), 4) AS decayed_count,
         CAST(COUNT(*) AS BIGINT) AS raw_count
  FROM lineitem CROSS JOIN mx
  GROUP BY l_partkey),
r AS (
  SELECT l_partkey, decayed_count, raw_count,
         CAST(ROW_NUMBER() OVER (ORDER BY decayed_count DESC,
                                 l_partkey ASC) AS BIGINT) AS rnk
  FROM w)
SELECT l_partkey, decayed_count, raw_count, rnk FROM r WHERE rnk <= 10
"""


@query("decayed_part_popularity", _DECAYED_ORACLE)
def decayed_part_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted popularity (the recommender primitive raw counts
    get wrong: last year's bestseller should not outrank this week's):
    each sale contributes exp(-age/30d), summed per part — the decay is
    a pure projection against the broadcast max-date scalar, partial
    aggregation keeps the shuffle at one double per part, and top-10
    selection is TakeOrdered. Raw counts ride along to show where decay
    reorders the leaderboard."""
    li = _t(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_shipdate").alias("m"))
    w = (
        li.crossJoin(F.broadcast(mx))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(
                    F.exp(
                        -(
                            F.unix_micros("m") - F.unix_micros("l_shipdate")
                        ).cast("double")
                        / (30.0 * 86400e6)
                    )
                ),
                4,
            ).alias("decayed_count"),
            F.count(F.lit(1)).cast("bigint").alias("raw_count"),
        )
    )
    win = Window.orderBy(F.col("decayed_count").desc(), F.col("l_partkey").asc())
    return (
        w.orderBy(F.col("decayed_count").desc(), F.col("l_partkey").asc())
        .limit(10)
        .withColumn("rnk", F.row_number().over(win).cast("bigint"))
    )


_ALLOC_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice
  FROM lineitem WHERE l_orderkey % 100 = 0),
tot AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS order_total
  FROM li GROUP BY l_orderkey),
raw AS (
  SELECT li.l_orderkey, li.l_linenumber,
         -- allocate 10.00 in cents, proportional to line price
         1000.0 * CAST(li.l_extendedprice AS DECIMAL(18,4)) / t.order_total
           AS cents_exact
  FROM li JOIN tot t ON li.l_orderkey = t.l_orderkey),
fl AS (
  SELECT *, CAST(floor(cents_exact) AS BIGINT) AS cents_floor,
         cents_exact - floor(cents_exact) AS frac
  FROM raw),
need AS (
  SELECT l_orderkey,
         CAST(1000 - SUM(cents_floor) AS BIGINT) AS leftover
  FROM fl GROUP BY l_orderkey),
rk AS (
  SELECT fl.*, need.leftover,
         ROW_NUMBER() OVER (PARTITION BY fl.l_orderkey
                            ORDER BY fl.frac DESC, fl.l_linenumber ASC)
           AS frac_rank
  FROM fl JOIN need ON fl.l_orderkey = need.l_orderkey)
SELECT l_orderkey, l_linenumber,
       CAST(cents_floor + CASE WHEN frac_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_cents
FROM rk
"""


@query("largest_remainder_allocation", _ALLOC_ORACLE)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact monetary allocation by largest remainder (Hamilton's
    method, public): split a 10.00 fee across each order's lines
    proportionally to price so the cents SUM EXACTLY — floor every
    share, then hand the leftover cents to the largest fractional
    parts. Naive rounding leaks cents; this is the allocation ledgers
    and ad-spend attribution actually require. All window/groupBy work
    keys by order; the exact shares divide decimals so both engines
    agree bit-for-bit before the floor."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")
    tot = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias(
            "order_total"
        )
    )
    raw = li.join(tot, "l_orderkey").select(
        "l_orderkey",
        "l_linenumber",
        (
            F.lit(1000.0)
            * F.col("l_extendedprice").cast("decimal(18,4)")
            / F.col("order_total")
        ).alias("cents_exact"),
    )
    fl = raw.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("cents_exact").cast("bigint").alias("cents_floor"),
        (F.col("cents_exact") - F.floor("cents_exact")).alias("frac"),
    )
    need = fl.groupBy("l_orderkey").agg(
        (F.lit(1000) - F.sum("cents_floor")).cast("bigint").alias("leftover")
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("frac").desc(), F.col("l_linenumber").asc()
    )
    return (
        fl.join(need, "l_orderkey")
        .withColumn("frac_rank", F.row_number().over(w))
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                F.col("cents_floor")
                + F.when(F.col("frac_rank") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_cents"),
        )
    )


# ===================================================================
# Round-4 wave 36 — clamped running inventory via the prefix-min
# identity
# ===================================================================

_INVENTORY_ORACLE = """
WITH d AS (
  SELECT l_partkey, l_shipdate, l_linenumber, l_orderkey,
         CASE WHEN l_returnflag = 'R' THEN l_quantity
              ELSE -l_quantity END AS delta
  FROM lineitem WHERE l_partkey % 200 = 0),
s AS (
  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
         SUM(delta) OVER (PARTITION BY l_partkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS pref
  FROM d),
p AS (
  SELECT *, MIN(pref) OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS min_pref
  FROM s)
SELECT l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       round(MAX(pref - least(min_pref, 0)), 2) AS peak_stock,
       CAST(SUM(CASE WHEN pref - least(min_pref, 0) = 0 THEN 1
                     ELSE 0 END) AS BIGINT) AS stockout_moves
FROM p GROUP BY l_partkey
"""


@query("clamped_running_inventory", _INVENTORY_ORACLE)
def clamped_running_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running inventory clamped at zero — a SEQUENTIAL-looking fold
    (stock can never go negative; sales against empty stock are lost,
    not borrowed) collapsed to a closed form: with prefix sums P_t,
    clamped stock S_t = P_t - min(0, min_{k<=t} P_k). Two stacked
    windows per part (prefix sum, then running min of it) replace any
    per-row state machine — the same windows-instead-of-recurrence
    move as events_since_last_purchase, for a fold that looks like it
    needs applyInPandas but doesn't (only folds with both clamps do;
    see ewma for the genuinely sequential case). Returns are inflow,
    sales outflow; per-part peak stock and stockout counts emerge."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 200 == 0)
    d = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
        .otherwise(-F.col("l_quantity"))
        .alias("delta"),
    )
    order = ["l_shipdate", "l_orderkey", "l_linenumber"]
    wp = Window.partitionBy("l_partkey").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = d.withColumn("pref", F.sum("delta").over(wp)).withColumn(
        "min_pref", F.min("pref").over(wp)
    )
    stock = F.col("pref") - F.least(F.col("min_pref"), F.lit(0.0))
    return p.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.round(F.max(stock), 2).alias("peak_stock"),
        F.sum(F.when(stock == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("stockout_moves"),
    )


# ===================================================================
# Round-4 wave 37 — RLE event runs, grouped correlation, degree
# distribution slope
# ===================================================================

_RUNS_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE user_id IS NOT NULL),
g AS (
  SELECT user_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM e),
r AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM g GROUP BY user_id, event_type, run_id)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS longest_run,
       round(AVG(run_len), 4) AS avg_run_len
FROM r GROUP BY event_type
"""


@query("event_type_runs", _RUNS_ORACLE)
def event_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of behavior streams (does the same action
    repeat in bursts? — the bot/rage-click signal): consecutive
    same-type events collapse into runs via the change-marker running
    sum (the islands trick keyed on VALUE change rather than time gap),
    then run lengths profile per type. Two user-keyed window passes +
    two groupBys."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    brk = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    g = e.withColumn("brk", brk).withColumn("run_id", F.sum("brk").over(cum))
    r = g.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("longest_run"),
        F.round(F.avg("run_len"), 4).alias("avg_run_len"),
    )


_GROUPED_CORR_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(corr(l_quantity, l_discount), 6) AS qty_discount_corr
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@query("discount_qty_corr_by_brand", _GROUPED_CORR_ORACLE)
def discount_qty_corr_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation (the price-sensitivity question 'do
    discounts move quantity?' answered PER BRAND — a global corr hides
    Simpson-style sign flips between segments): corr as a grouped
    aggregate over the broadcast part join, five running sums per
    group, one row per brand."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.corr("l_quantity", "l_discount"), 6).alias(
                "qty_discount_corr"
            ),
        )
    )


_DEGREE_DIST_ORACLE = """
WITH __pr AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
__e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM __pr a JOIN __pr b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM __e UNION ALL SELECT v FROM __e) GROUP BY node),
hist AS (
  SELECT d, CAST(COUNT(*) AS DOUBLE) AS cnt FROM deg GROUP BY d),
pts AS (SELECT ln(CAST(d AS DOUBLE)) AS x, ln(cnt) AS y FROM hist WHERE d > 0),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM pts)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS loglog_slope
FROM s
"""


@query("degree_distribution_slope", _DEGREE_DIST_ORACLE)
def degree_distribution_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution shape check (is this graph heavy-tailed? —
    the question that decides whether skew machinery like the
    degree-ordered triangle orientation is NEEDED): log-log OLS slope
    of the degree histogram, a power law showing as a straight negative
    slope. The histogram is |distinct degrees| rows, so the regression
    runs on a vanishing aggregate of the graph."""
    from etl_bigquery_pipeline_spark.operators import graph

    l = _t(spark, sf_dir, "lineitem")
    pairs = graph.cooccurrence_pairs(l, "l_orderkey", "l_partkey")
    edges = graph.undirected_edges(pairs, "pa", "pb")
    # one pass over the (uncached, expensive) edge build: explode both
    # endpoints instead of a union of two selects, which replayed the
    # cooccurrence groupBy + distinct per side (r11 plan audit)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    ).transform(scoped_cache)
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    pts = hist.filter(F.col("d") > 0).select(
        F.log(F.col("d").cast("double")).alias("x"), F.log("cnt").alias("y")
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    meta = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return meta.crossJoin(F.broadcast(s)).select(
        "n_nodes",
        "max_degree",
        F.round(num / den, 4).alias("loglog_slope"),
    )


# ===================================================================
# Round-4 wave 38 — cohort LTV, forecast backtest, CUPED
# ===================================================================

_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('month', MIN(ts)) AS DATE) AS cohort
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
rev AS (
  SELECT f.cohort,
         CAST(datediff('month', f.cohort,
                       CAST(date_trunc('month', e.ts) AS DATE)) AS BIGINT)
           AS month_age,
         CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  GROUP BY 1, 2),
size_ AS (SELECT cohort, COUNT(*) AS n_users FROM first_seen GROUP BY cohort),
cum AS (
  SELECT r.cohort, r.month_age,
         SUM(r.v) OVER (PARTITION BY r.cohort ORDER BY r.month_age
                        ROWS UNBOUNDED PRECEDING) AS cum_v
  FROM rev r)
SELECT c.cohort, c.month_age, CAST(s.n_users AS BIGINT) AS n_users,
       round(c.cum_v / s.n_users, 4) AS cum_value_per_user
FROM cum c JOIN size_ s ON c.cohort = s.cohort
"""


@query("cohort_ltv_curves", _LTV_ORACLE)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves (the revenue companion to retention_cohorts:
    how much cumulative value per user has each signup cohort produced
    by month-age N?): first-seen month assigns cohorts, monthly value
    aggregates per (cohort, age), and a cohort-keyed running sum builds
    the curve — every window is calendar-bounded, the user-level work is
    two groupBys."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("cohort")
    ).transform(scoped_cache)
    rev = (
        e.join(first_seen, "user_id")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "ts").cast("date"), F.col("cohort")
            )
            .cast("bigint")
            .alias("month_age"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"))
    )
    size = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    w = Window.partitionBy("cohort").orderBy("month_age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = rev.withColumn("cum_v", F.sum("v").over(w))
    return cum.join(F.broadcast(size), "cohort").select(
        "cohort",
        "month_age",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(F.col("cum_v") / F.col("n_users"), 4).alias(
            "cum_value_per_user"
        ),
    )


_BACKTEST_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
p AS (
  SELECT day, rev,
         lag(rev, 7) OVER (ORDER BY day) AS pred
  FROM daily)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
       round(AVG(abs(rev - pred)), 2) AS mae,
       round(AVG(abs(rev - pred) / rev), 6) AS mape,
       round(sqrt(AVG(pow(rev - pred, 2))), 2) AS rmse
FROM p WHERE pred IS NOT NULL
"""


@query("seasonal_naive_backtest", _BACKTEST_ORACLE)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality floor (any model must beat this or it is
    worthless): the seasonal-naive predictor — tomorrow looks like the
    same weekday last week (lag 7 on the daily aggregate) — scored with
    MAE/MAPE/RMSE. The backtest IS a query: no fitting, one
    calendar-bounded window, three error aggregates. The baseline every
    forecasting deliverable should be benchmarked against and rarely
    is."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    )
    w = Window.orderBy("day")
    p = daily.withColumn("pred", F.lag("rev", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.abs(F.col("rev") - F.col("pred"))
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.round(F.avg(err), 2).alias("mae"),
        F.round(F.avg(err / F.col("rev")), 6).alias("mape"),
        F.round(F.sqrt(F.avg(F.pow(F.col("rev") - F.col("pred"), 2))), 2).alias(
            "rmse"
        ),
    )


_CUPED_ORACLE = """
WITH span AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us FROM events),
u AS (
  SELECT e.user_id,
         CAST(SUM(CASE WHEN epoch_us(e.ts) < span.mid_us
                       THEN CAST(e.value AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS pre,
         CAST(SUM(CASE WHEN epoch_us(e.ts) >= span.mid_us
                       THEN CAST(e.value AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS post
  FROM events e CROSS JOIN span
  WHERE e.user_id IS NOT NULL
  GROUP BY e.user_id),
s AS (
  SELECT COUNT(*) AS n, covar_samp(pre, post) AS cov,
         var_samp(pre) AS vpre, var_samp(post) AS vpost, AVG(pre) AS mpre
  FROM u),
adj AS (
  SELECT var_samp(u.post - (s.cov / s.vpre) * (u.pre - s.mpre)) AS vadj
  FROM u CROSS JOIN s)
SELECT CAST(s.n AS BIGINT) AS n_users,
       round(s.cov / s.vpre, 6) AS theta,
       round(s.vpost, 4) AS var_post,
       round(adj.vadj, 4) AS var_adjusted,
       round(1.0 - adj.vadj / s.vpost, 6) AS variance_reduction
FROM s CROSS JOIN adj
"""


@query("cuped_variance_reduction", _CUPED_ORACLE)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (public A/B-testing technique: regress the experiment
    metric on a pre-period covariate and analyze the residual — same
    mean, less variance, smaller sample sizes): per-user pre/post value
    from the data's own midpoint, theta = cov/var(pre) from one
    5-scalar aggregate, and the adjusted metric's variance measured in
    a second pass. The reported variance_reduction is the fraction of
    experiment noise the covariate explains — the number that justifies
    deploying CUPED at all."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    span = e.agg(
        F.floor(
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2
        )
        .cast("bigint")
        .alias("mid_us")
    )
    j = e.crossJoin(F.broadcast(span))
    pre_case = F.when(
        F.unix_micros("ts") < F.col("mid_us"),
        F.col("value").cast("decimal(18,4)"),
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    post_case = F.when(
        F.unix_micros("ts") >= F.col("mid_us"),
        F.col("value").cast("decimal(18,4)"),
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    u = j.groupBy("user_id").agg(
        F.sum(pre_case).cast("double").alias("pre"),
        F.sum(post_case).cast("double").alias("post"),
    ).transform(scoped_cache)
    s = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_samp("pre", "post").alias("cov"),
        F.var_samp("pre").alias("vpre"),
        F.var_samp("post").alias("vpost"),
        F.avg("pre").alias("mpre"),
    )
    adj = (
        u.crossJoin(F.broadcast(s))
        .select(
            (
                F.col("post")
                - (F.col("cov") / F.col("vpre")) * (F.col("pre") - F.col("mpre"))
            ).alias("a")
        )
        .agg(F.var_samp("a").alias("vadj"))
    )
    return s.crossJoin(F.broadcast(adj)).select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("cov") / F.col("vpre"), 6).alias("theta"),
        F.round("vpost", 4).alias("var_post"),
        F.round("vadj", 4).alias("var_adjusted"),
        F.round(1.0 - F.col("vadj") / F.col("vpost"), 6).alias(
            "variance_reduction"
        ),
    )


# ===================================================================
# Round-4 wave 39 — SRM assignment check, linear attribution
# ===================================================================

_SRM_ORACLE = f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
a AS (
  SELECT user_id,
         ({_hex8_to_int_sql("substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8)")}) % 2
           AS arm
  FROM u),
c AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1
  FROM a)
SELECT CAST(n0 AS BIGINT) AS arm_a,
       CAST(n1 AS BIGINT) AS arm_b,
       round(pow(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
             + pow(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2), 6) AS chi2,
       (pow(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
        + pow(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)) < 3.84
         AS assignment_healthy
FROM c
"""


@query("srm_assignment_check", _SRM_ORACLE)
def srm_assignment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (the first gate on ANY experiment
    readout: if the 50/50 split isn't 50/50, every downstream metric is
    suspect): users assigned by salted md5 parity — the deterministic
    assignment a real experiment platform uses, replayable by the
    oracle — and the observed counts chi-square-tested against the
    expected split (3.84 = chi2 0.95 critical value at 1 df). One
    distinct + one 2-scalar aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    u = e.select("user_id").distinct()
    arm = (
        TX.hex8_to_int(
            F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string")))
        )
        % 2
    )
    c = u.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
    )
    exp = (F.col("n0") + F.col("n1")) / 2
    chi2 = (
        F.pow(F.col("n0") - exp, 2) / exp + F.pow(F.col("n1") - exp, 2) / exp
    )
    return c.select(
        F.col("n0").cast("bigint").alias("arm_a"),
        F.col("n1").cast("bigint").alias("arm_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 < 3.84).alias("assignment_healthy"),
    )


_LINEAR_ATTR_ORACLE = """
WITH p AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
touch AS (
  SELECT e.user_id, p.p_id, e.event_type, e.event_id
  FROM events e JOIN p
    ON e.user_id = p.user_id
   AND e.ts < p.p_ts
   AND e.ts >= p.p_ts - INTERVAL '24 hours'
  WHERE e.event_type <> 'purchase'),
n AS (
  SELECT p_id, COUNT(*) AS n_touches FROM touch GROUP BY p_id),
credit AS (
  SELECT t.event_type, 1.0 / n.n_touches AS c
  FROM touch t JOIN n ON t.p_id = n.p_id)
SELECT event_type,
       round(SUM(c), 4) AS attributed_purchases,
       CAST(COUNT(*) AS BIGINT) AS n_touchpoints
FROM credit GROUP BY event_type
"""


@query("linear_attribution", _LINEAR_ATTR_ORACLE)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (the fairness upgrade over
    first_touch_attribution: every touchpoint in the 24h window before
    a purchase shares the credit equally, so credit sums to exactly one
    per purchase): a time-bounded self-join builds the
    (touch, purchase) pairs — the same range-join shape as
    signup-followups, bounded on both ends so state never grows — and
    the per-purchase touch count normalizes the credit. The column to
    check is attributed_purchases: its total equals the number of
    purchases with >= 1 touch, by construction."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    touch = (
        e.filter(F.col("event_type") != "purchase")
        .join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") < F.col("p_ts"))
            & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        )
        .select("p_id", "event_type")
        .transform(scoped_cache)
    )
    n = touch.groupBy("p_id").agg(F.count(F.lit(1)).alias("n_touches"))
    credit = touch.join(n, "p_id").select(
        "event_type", (F.lit(1.0) / F.col("n_touches")).alias("c")
    )
    return credit.groupBy("event_type").agg(
        F.round(F.sum("c"), 4).alias("attributed_purchases"),
        F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
    )


# ===================================================================
# Round-4 wave 40 — price/volume revenue bridge
# ===================================================================

_BRIDGE_ORACLE = """
WITH mid AS (
  SELECT (epoch_us(MIN(l_shipdate)) + epoch_us(MAX(l_shipdate))) // 2 AS m
  FROM lineitem),
per AS (
  SELECT p.p_brand,
         CASE WHEN epoch_us(li.l_shipdate) < mid.m THEN 0 ELSE 1 END AS period,
         CAST(SUM(CAST(li.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
         CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
  CROSS JOIN mid
  GROUP BY 1, 2),
j AS (
  SELECT a.p_brand,
         a.qty AS q0, a.rev AS r0, a.rev / a.qty AS p0,
         b.qty AS q1, b.rev AS r1, b.rev / b.qty AS p1
  FROM per a JOIN per b
    ON a.p_brand = b.p_brand AND a.period = 0 AND b.period = 1)
SELECT p_brand,
       round(r1 - r0, 2) AS delta_rev,
       round((q1 - q0) * p0, 2) AS volume_effect,
       round(q0 * (p1 - p0), 2) AS price_effect,
       round((q1 - q0) * (p1 - p0), 2) AS mix_effect
FROM j
"""


@query("revenue_bridge_decomposition", _BRIDGE_ORACLE)
def revenue_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume bridge (the 'WHY did revenue change?' decomposition
    every business review runs): between the data's two half-periods,
    per brand, delta revenue splits exactly into volume effect
    ((q1-q0) x p0), price effect (q0 x (p1-p0)), and the interaction
    mix term — the three sum to delta_rev by algebra, so the bridge is
    self-auditing. One star-join scan into a (brand, period) aggregate;
    the decomposition is a projection over the self-joined periods."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mid = li.agg(
        F.floor(
            (F.unix_micros(F.min("l_shipdate")) + F.unix_micros(F.max("l_shipdate")))
            / 2
        )
        .cast("bigint")
        .alias("m")
    )
    per = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .crossJoin(F.broadcast(mid))
        .groupBy(
            "p_brand",
            F.when(F.unix_micros("l_shipdate") < F.col("m"), 0)
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("rev"),
        )
        .transform(scoped_cache)
    )
    a = per.filter(F.col("period") == 0).select(
        "p_brand",
        F.col("qty").alias("q0"),
        F.col("rev").alias("r0"),
        (F.col("rev") / F.col("qty")).alias("p0"),
    )
    b = per.filter(F.col("period") == 1).select(
        "p_brand",
        F.col("qty").alias("q1"),
        F.col("rev").alias("r1"),
        (F.col("rev") / F.col("qty")).alias("p1"),
    )
    return a.join(b, "p_brand").select(
        "p_brand",
        F.round(F.col("r1") - F.col("r0"), 2).alias("delta_rev"),
        F.round((F.col("q1") - F.col("q0")) * F.col("p0"), 2).alias(
            "volume_effect"
        ),
        F.round(F.col("q0") * (F.col("p1") - F.col("p0")), 2).alias(
            "price_effect"
        ),
        F.round(
            (F.col("q1") - F.col("q0")) * (F.col("p1") - F.col("p0")), 2
        ).alias("mix_effect"),
    )


# ===================================================================
# Round-4 wave 41 — salted two-phase aggregation, markup density
# ===================================================================

_SALTED_AGG_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
"""


@query("salted_agg_parity", _SALTED_AGG_ORACLE)
def salted_agg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (the groupBy twin of salted_join —
    when one key owns a third of the rows, pre-aggregating under
    (key, salt) spreads the hot key over N reducers, and a second
    groupBy folds the partials): count and decimal-exact sum are both
    algebraic, so the salted result is IDENTICAL to the direct groupBy
    — which is exactly what the oracle checks. Spark's map-side partial
    aggregation already gives much of this for free; explicit salting
    is the insurance when partials can't combine (high-cardinality
    intermediates, exact distincts) — this query pins the algebra."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    salt = F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("__salt")
    partial = e.groupBy("user_id", salt).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("ps"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").cast("bigint").alias("n_events"),
        F.sum("ps").cast("double").alias("value_sum"),
    )


_MARKUP_ORACLE = """
WITH m AS (
  SELECT source,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(text, '[^\\[\\](){}<>]', '', 'g'))
              AS DOUBLE) AS n_brackets,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           AS n_digits,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
           AS n_upper
  FROM documents WHERE length(text) > 0)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(n_brackets / n_chars), 6) AS bracket_density,
       round(AVG(n_digits / n_chars), 6) AS digit_density,
       round(AVG(n_upper / n_chars), 6) AS upper_density
FROM m GROUP BY source
"""


@query("markup_density_stats", _MARKUP_ORACLE)
def markup_density_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class densities (the cheap code-vs-prose /
    table-vs-text discriminators: brackets, digits, uppercase — the
    features a corpus router uses before spending tokenizer time):
    regexp strip-and-measure per class, one scan, per-source averages.
    Pure JVM regex, zero shuffle before the per-source rollup."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text").cast("double")
    dens = lambda pat: (  # noqa: E731
        F.length(F.regexp_replace("text", pat, "")).cast("double") / n
    )
    m = d.select(
        "source",
        dens(r"[^\[\](){}<>]").alias("b"),
        dens(r"[^0-9]").alias("g"),
        dens(r"[^A-Z]").alias("u"),
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("b"), 6).alias("bracket_density"),
        F.round(F.avg("g"), 6).alias("digit_density"),
        F.round(F.avg("u"), 6).alias("upper_density"),
    )


# ===================================================================
# Round-4 wave 42 — grouped OLS, quantile-transform uniformity
# ===================================================================

_GROUPED_OLS_ORACLE = """
WITH s AS (
  SELECT p_brand, COUNT(*) AS n,
         SUM(CAST(p_size AS DOUBLE)) AS sx,
         SUM(p_retailprice) AS sy,
         SUM(CAST(p_size AS DOUBLE) * CAST(p_size AS DOUBLE)) AS sxx,
         SUM(CAST(p_size AS DOUBLE) * p_retailprice) AS sxy
  FROM part GROUP BY p_brand)
SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS size_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept
FROM s WHERE n * sxx - sx * sx <> 0
"""


@query("price_size_slope_by_brand", _GROUPED_OLS_ORACLE)
def price_size_slope_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED closed-form OLS (one regression per brand in a single
    aggregate — the 'fit thousands of tiny models' shape that a
    per-group sklearn loop gets catastrophically wrong at scale): the
    five sufficient statistics per group, slope and intercept as
    projections. Whether price rises with size is answered for every
    brand in one shuffle; groups with degenerate variance drop out via
    the denominator guard."""
    p = _t(spark, sf_dir, "part")
    x = F.col("p_size").cast("double")
    y = F.col("p_retailprice")
    s = p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter(den != 0).select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_parts"),
        F.round(num / den, 6).alias("size_slope"),
        F.round((F.col("sy") - num / den * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


_QT_ORACLE = """
WITH r AS (
  SELECT c_acctbal,
         CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS DOUBLE)
           / (SELECT COUNT(*) - 1 FROM customer) AS u
  FROM customer),
h AS (
  SELECT CAST(least(floor(u * 10), 9) AS BIGINT) AS decile,
         COUNT(*) AS n
  FROM r GROUP BY 1),
t AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM h)
SELECT CAST(t.k AS BIGINT) AS n_deciles,
       CAST(MIN(h.n) AS BIGINT) AS min_bucket,
       CAST(MAX(h.n) AS BIGINT) AS max_bucket,
       MAX(h.n) - MIN(h.n) <= 2 AS uniform
FROM h CROSS JOIN t GROUP BY t.k
"""


@query("quantile_transform_uniformity_gate", _QT_ORACLE)
def quantile_transform_uniformity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile transform (map any column to uniform [0,1] by its own
    ECDF — the rank-based normalization robust to every outlier a
    z-score is not) with its defining property as the gate: the
    transformed deciles are uniform to within rounding (bucket sizes
    differ by at most 2 — ties and integer division, not noise). Ranks
    come from the distributed global numbering, never a
    single-partition window."""
    c = _t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    ranked, total = windows.with_global_row_number(
        c, ["c_acctbal", "c_custkey"], rn_col="__rn"
    )
    u = ranked.select(
        ((F.col("__rn") - 1).cast("double") / (total - 1)).alias("u")
    )
    h = u.groupBy(
        F.least(F.floor(F.col("u") * 10), F.lit(9)).cast("bigint").alias(
            "decile"
        )
    ).agg(F.count(F.lit(1)).alias("n"))
    t = h.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("k"))
    return h.crossJoin(F.broadcast(t)).groupBy(F.col("k")).agg(
        F.min("n").cast("bigint").alias("min_bucket"),
        F.max("n").cast("bigint").alias("max_bucket"),
        ((F.max("n") - F.min("n")) <= 2).alias("uniform"),
    ).select(
        F.col("k").cast("bigint").alias("n_deciles"),
        "min_bucket",
        "max_bucket",
        "uniform",
    )


# ===================================================================
# Round-4 wave 43 — n-gram novelty, token-budget coverage
# ===================================================================

_NOVELTY_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(tk[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(tk) - 2, 1))])
           AS grams
  FROM t),
ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
df AS (SELECT g, COUNT(DISTINCT doc_id) AS d FROM ex GROUP BY g),
m AS (
  SELECT ex.doc_id,
         COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE df.d = 1) AS unique_grams
  FROM ex JOIN df ON ex.g = df.g
  GROUP BY ex.doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       round(CAST(unique_grams AS DOUBLE) / n_grams, 6) AS novelty
FROM m
"""


@query("ngram_novelty_scores", _NOVELTY_ORACLE)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty (the informativeness signal dual to the
    boilerplate ratio: what fraction of a document's 3-grams appear
    NOWHERE else in the corpus?): shingle-set explode, corpus document
    frequency per gram, per-doc unique fraction. The shuffle carries
    (gram-string, doc_id) — the standard shingle economy; high-novelty
    docs are the corpus's unique content, low-novelty ones are
    recombinations. Complements duplicate_ngram_spans (which hunts the
    SHARED side of the same distribution)."""
    d = _t(spark, sf_dir, "documents")
    # sh feeds two branches (gram aggregate + per-doc size) and is
    # deliberately NOT cached: materializing the gram arrays costs more
    # than re-running the codegen'd tokenize projection (measured 2x)
    sh = d.select(
        "doc_id", TX.tokens("text").alias("__tk")
    ).select(
        "doc_id",
        F.array_distinct(TX.shingles_of(F.col("__tk"), 3)).alias("__grams"),
    )
    ex = sh.select("doc_id", F.explode("__grams").alias("g"))
    # grams are distinct per doc, so count(1) per gram == document
    # frequency, and a d==1 gram's owner IS its min(doc_id) — uniqueness
    # counts fall out of the gram aggregate alone, with no join back of
    # the exploded gram set (which would shuffle every (gram, doc) pair
    # a second time; the gram-key shuffle here happens once)
    uniq = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("d"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("d") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("unique_grams"))
    )
    n = sh.select("doc_id", F.size("__grams").cast("bigint").alias("n_grams"))
    return n.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.round(
            F.coalesce(F.col("unique_grams"), F.lit(0)).cast("double")
            / F.col("n_grams"),
            6,
        ).alias("novelty"),
    )


_BUDGET_ORACLE = """
WITH t AS (
  SELECT doc_id, n_chars,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           AS tok
  FROM documents),
o AS (
  SELECT doc_id, tok,
         SUM(tok) OVER (ORDER BY n_chars DESC, doc_id ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT CAST(COUNT(*) FILTER (WHERE cum <= 10000) AS BIGINT)
         AS docs_in_budget,
       CAST(coalesce(SUM(tok) FILTER (WHERE cum <= 10000), 0) AS BIGINT)
         AS tokens_used,
       round(CAST(coalesce(SUM(tok) FILTER (WHERE cum <= 10000), 0)
                  AS DOUBLE) / SUM(tok), 6) AS corpus_fraction
FROM o
"""


@query("token_budget_coverage", _BUDGET_ORACLE)
def token_budget_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget coverage (the planning question before a training
    run: ordering docs by priority, how many fit a 10k-token budget and
    what corpus fraction is that?): a running token sum over the
    priority order (length-desc here; any score column slots in), the
    budget crossing read off with filtered aggregates. The running sum
    goes through the distributed range-partition machinery
    (windows.with_running_sums) — priority order at corpus scale
    is a range sort, not a single-partition window."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "n_chars", TX.token_count("text").alias("tok")
    )
    r, _ = windows.with_running_sums(
        t, [F.col("n_chars").desc(), F.col("doc_id").asc()], ["tok"]
    )
    in_b = F.col("cum_tok") <= 10000
    return r.agg(
        F.count_if(in_b).cast("bigint").alias("docs_in_budget"),
        F.coalesce(F.sum(F.when(in_b, F.col("tok"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_used"),
        F.round(
            F.coalesce(F.sum(F.when(in_b, F.col("tok"))), F.lit(0)).cast(
                "double"
            )
            / F.sum("tok"),
            6,
        ).alias("corpus_fraction"),
    )


# ===================================================================
# Round-4 wave 44 — IR evaluation metrics (MRR / NDCG) for the
# truncated-dim ranking
# ===================================================================

_MRR_NDCG_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 50 = 0 AND vec_id < {_ANN_PANEL_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
ex AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY {_cosine_sql("qv", "cv")} DESC, neighbor_id ASC)
           AS ex_rank
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
ap AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY {_cosine_sql("qv", "cv", 16)} DESC,
                    neighbor_id ASC) AS ap_rank
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
j AS (
  SELECT ap.query_id, ap.ap_rank, ex.ex_rank
  FROM ap JOIN ex ON ap.query_id = ex.query_id
                 AND ap.neighbor_id = ex.neighbor_id
  WHERE ap.ap_rank <= 10),
mrr AS (
  SELECT query_id,
         coalesce(MAX(CASE WHEN ex_rank = 1 THEN 1.0 / ap_rank END), 0.0)
           AS rr
  FROM j GROUP BY query_id),
dcg AS (
  SELECT query_id,
         SUM(CASE WHEN ex_rank <= 10
                  THEN (11.0 - ex_rank) / (ln(ap_rank + 1) / ln(2))
                  ELSE 0 END) AS dcg
  FROM j GROUP BY query_id),
idcg AS (
  SELECT SUM((11.0 - i) / (ln(i + 1) / ln(2))) AS v
  FROM generate_series(1, 10) AS g(i))
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(AVG(mrr.rr), 6) AS mrr,
       round(AVG(dcg.dcg / idcg.v), 6) AS ndcg_at_10
FROM mrr JOIN dcg ON mrr.query_id = dcg.query_id CROSS JOIN idcg
"""


@query("ann_mrr_ndcg_eval", _MRR_NDCG_ORACLE)
def ann_mrr_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-standard ranking evaluation for the truncated-dim ANN path:
    MRR (where does the exact top-1 neighbor land in the approximate
    ranking?) and NDCG@10 (graded relevance = 11 - exact rank,
    log-discounted by approximate position) — the metrics that say
    whether a cheaper ranking is good enough to SHOW, where recall
    gates only say whether it is good enough to PREFILTER. Both exact
    and 16-dim-prefix rankings come from `similarity.cosine_topk`
    (per-vector norms precomputed, narrow inputs widened — the first
    cut hand-rolled the pair scoring and recomputed both norms per
    pair over a 13-split scan, a 720s straggler at sf10); everything
    after is joins over (query, neighbor, rank) triples.

    Only the TOP-10 of each ranking matters: a pair outside the exact
    top-10 contributes grade 0 to NDCG and can never satisfy the
    MRR ex_rank=1 test, so the join is ap-top10 LEFT ex-top10 with the
    NULL ex_rank falling into the same 0 branches the full-rank join
    produced — identical aggregates, two orders of magnitude fewer
    rows ranked past the scoring scan."""
    from etl_bigquery_pipeline_spark.operators import similarity

    # widen BEFORE caching: the sf10 embeddings file is a single row
    # group, so a cache built straight off the scan materializes 13
    # planned partitions with ONE holding every row — and cosine_topk's
    # internal widen passes cached frames through, serializing the
    # whole pair compute into one task (the r10 sweep's 720s straggler)
    emb = widen_if_narrow(
        _t(spark, sf_dir, "embeddings"), "vec_id"
    ).transform(scoped_cache)
    probes = _ann_panel(emb, 50)

    def _sliced(df):
        return df.select(
            "vec_id",
            F.slice(F.col("embedding").cast("array<double>"), 1, 16).alias(
                "embedding"
            ),
        )

    ex = similarity.cosine_topk(
        emb, probes, k=10, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    ).select("query_id", "neighbor_id", F.col("rank").alias("ex_rank"))
    ap = similarity.cosine_topk(
        _sliced(emb), _sliced(probes), k=10, id_col="vec_id",
        vec_col="embedding", query_id_col="query_id",
    ).select("query_id", "neighbor_id", F.col("rank").alias("ap_rank"))
    j = ap.join(ex, ["query_id", "neighbor_id"], "left")
    # ONE groupBy yields both per-query metrics: the r11 shape computed
    # rr and dcg as two separate aggregations over a cached j and joined
    # them back on query_id — a 1:1 self-join of identical key sets
    # (guide §2.4: two operations keyed the same way share one
    # exchange). Fusing them also leaves j with a single consumer, so
    # its cache (a full materialization pass) goes too.
    per_q = j.groupBy("query_id").agg(
        F.coalesce(
            F.max(F.when(F.col("ex_rank") == 1, 1.0 / F.col("ap_rank"))),
            F.lit(0.0),
        ).alias("rr"),
        F.sum(
            F.when(
                F.col("ex_rank") <= 10,
                (11.0 - F.col("ex_rank"))
                / (F.log(F.col("ap_rank") + 1) / F.log(F.lit(2.0))),
            ).otherwise(0.0)
        ).alias("dcg"),
    )
    idcg = sum((11.0 - i) / (__import__("math").log2(i + 1)) for i in range(1, 11))
    return (
        per_q
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.round(F.avg("rr"), 6).alias("mrr"),
            F.round(F.avg(F.col("dcg") / F.lit(idcg)), 6).alias("ndcg_at_10"),
        )
    )


# ===================================================================
# Round-4 wave 45 — dow/hour heatmap, aging buckets
# ===================================================================

_DOW_HOUR_ORACLE = """
SELECT CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS iso_dow,
       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(AVG(CAST(value AS DOUBLE)), 4) AS avg_value
FROM events GROUP BY 1, 2
"""


@query("events_heatmap_dow_hour", _DOW_HOUR_ORACLE)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7x24 activity heatmap (when is traffic actually happening —
    the capacity-planning and anomaly-baseline view): ISO weekday x
    hour cells from one scan, at most 168 groups at any event volume so
    the shuffle is partial-aggregate states only. Spark's dayofweek is
    Sunday=1; normalized to ISO Monday=1 to match the calendar
    dimension's convention."""
    e = _t(spark, sf_dir, "events")
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("bigint")
    return (
        e.groupBy(
            iso_dow.alias("iso_dow"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.avg(F.col("value").cast("double")), 4).alias("avg_value"),
        )
    )


_AGING_ORACLE = """
WITH now_ AS (SELECT MAX(o_orderdate) AS n FROM orders),
a AS (
  SELECT CASE
           WHEN datediff('day', CAST(o_orderdate AS DATE),
                         CAST(now_.n AS DATE)) <= 30 THEN '00-30d'
           WHEN datediff('day', CAST(o_orderdate AS DATE),
                         CAST(now_.n AS DATE)) <= 90 THEN '31-90d'
           WHEN datediff('day', CAST(o_orderdate AS DATE),
                         CAST(now_.n AS DATE)) <= 365 THEN '91-365d'
           ELSE '365d+' END AS bucket,
         o_totalprice
  FROM orders CROSS JOIN now_)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS total_value
FROM a GROUP BY bucket
"""


@query("orders_aging_buckets", _AGING_ORACLE)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report (receivables/backlog style): orders bucketed by age
    against the data's own horizon — the reproducible stand-in for
    'today' — with counts and exact-decimal value per band. One scan,
    four groups; the CASE ladder is the same fixed-threshold device as
    length_bucket_batches (deterministic cross-engine, unlike float
    log-bucketing)."""
    o = _t(spark, sf_dir, "orders")
    now_ = o.agg(F.max("o_orderdate").alias("n"))
    age = F.datediff(
        F.col("n").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= 30, "00-30d")
        .when(age <= 90, "31-90d")
        .when(age <= 365, "91-365d")
        .otherwise("365d+")
    )
    return (
        o.crossJoin(F.broadcast(now_))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            exact_sum("o_totalprice").alias("total_value"),
        )
    )


