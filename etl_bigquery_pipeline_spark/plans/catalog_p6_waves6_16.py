"""Round-4 waves 6-16: prefix-filter joins, graph-ML, SFT assembly — split from plans/catalog.py (r11).

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
    _LOGREG_ORACLE,
    _ann_panel,
    _cosine_sql,
    _hex8_to_int_sql,
    _planted_corpus,
    _t,
    dedup,
    dq,
    exact_sum,
    quality_model,
    query,
    scoped_cache,
    similarity,
    windows,
)

# ===================================================================
# Round-4 wave 6 — prefix-filter similarity join, hard negatives,
# corpus datasheet, reproducible training order, length bucketing,
# key discovery, model calibration
# ===================================================================

# ---- AllPairs/PPJoin prefix-filtered exact Jaccard self-join ----

_PREFIX_JACCARD_ORACLE = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' zzz extra' FROM documents WHERE doc_id < 25),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM docs),
t AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(t) - 2, 1))])
           AS toks
  FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.toks, b.toks)) AS i,
         len(a.toks) AS na, len(b.toks) AS nb
  FROM t a JOIN t b ON a.doc_id < b.doc_id),
s AS (
  SELECT id_a, id_b,
         round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
  FROM p WHERE na + nb - i > 0)
SELECT id_a, id_b, jaccard FROM s WHERE jaccard >= 0.5
"""


@query("prefix_jaccard_pairs", _PREFIX_JACCARD_ORACLE)
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle-set Jaccard >= 0.5 pairs via the AllPairs/PPJoin
    prefix filter (operators.dedup.prefix_filter_jaccard_pairs):
    rarest-first element ordering, prefix + length + overlap-bound
    filters, exact verify on candidates only. Shingle sets (not raw
    token sets) are the discriminative representation: the synthetic
    corpus draws words from a small vocabulary, so nearly every doc
    PAIR shares most single tokens — shingling restores a long-tailed
    element space where prefixes actually prune. The oracle is the
    deliberately-quadratic brute force over the same shingle sets, so a
    green hash proves the prefix filter is LOSSLESS (zero false
    negatives) at this threshold — the property that distinguishes it
    from MinHash-LSH. Planted: 25 near-dup copies (two appended tokens
    -> two extra shingles, shifted ids).

    The quadratic oracle is feasible through sf0.1 (5k docs = 12.5M
    DuckDB pairs, sweep-verified); at sf1.0 it is 1.25e9 pairs and is
    the one deliberate skip in the sf1.0 full-catalog sweep (SCALE.md)
    — the Spark side's sf1.0/sf10 behavior is measured there instead."""
    corpus = _planted_corpus(spark, sf_dir)
    return dedup.prefix_filter_jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.5, shingle_n=3
    )


# ---- hard-negative mining over embeddings ----

_HARD_NEG_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, label AS qlab, embedding AS qv
           FROM embeddings
           WHERE vec_id % 100 = 0 AND vec_id < {_ANN_PANEL_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, label AS clab, embedding AS cv
      FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, {_cosine_sql("qv", "cv")} AS sim
  FROM q JOIN c ON q.qlab <> c.clab),
r AS (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
  FROM s)
SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3
"""


@query("hard_negative_mining", _HARD_NEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives (similarity.hard_negatives):
    per probe vector, the top-3 most-cosine-similar vectors with a
    DIFFERENT label — broadcast probes, one corpus scan, label inequality
    fused into the join predicate. The negatives that look most like
    positives are the ones a contrastive batch actually learns from."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = _ann_panel(emb, 100)
    out = similarity.hard_negatives(
        emb, probes, k=3, id_col="vec_id", vec_col="embedding",
        label_col="label", query_id_col="query_id",
    )
    return out.select(
        "query_id", "neighbor_id", "sim",
        F.col("rank").cast("bigint").alias("rnk"),
    )


# ---- corpus datasheet: the one-scan dataset card ----

_DATASHEET_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(AVG(n_chars), 4) AS avg_chars,
       round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       round(AVG(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 6)
         AS short_frac,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS total_tokens
FROM documents
"""


@query("corpus_datasheet", _DATASHEET_ORACLE)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary (datasheets-for-datasets style): volume,
    source/lang diversity, length distribution (exact interpolated
    percentiles), short-doc fraction, and total whitespace tokens. The
    two distinct-aggregates expand the scan 2x map-side but group to a
    single row — the shuffle is a handful of partial states, so the
    scan cost dominates at any scale. The length percentiles run on the
    histogram plan (`windows.exact_percentiles`): percentile()'s per-task
    value buffer over an unaggregated corpus column is the r8 sf10 OOM
    class, and the extra pass it costs here is a pruned single-column
    (n_chars) scan — cheap next to the text-bearing main aggregate."""
    d = _t(spark, sf_dir, "documents")
    pcts = windows.exact_percentiles(
        d, None, "n_chars", [0.5, 0.9], ["__p50", "__p90"]
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(
            F.avg(F.when(F.col("n_chars") < 100, 1.0).otherwise(0.0)), 6
        ).alias("short_frac"),
        F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
    )
    return agg.crossJoin(F.broadcast(pcts)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "avg_chars",
        F.round(F.col("__p50"), 4).alias("p50_chars"),
        F.round(F.col("__p90"), 4).alias("p90_chars"),
        "short_frac",
        "total_tokens",
    )


# ---- reproducible per-epoch global shuffle order ----

_EPOCH_SHUFFLE_ORACLE = """
WITH e AS (
  SELECT doc_id, g.e AS epoch,
         md5('epoch:' || CAST(g.e AS VARCHAR) || ':'
             || CAST(doc_id AS VARCHAR)) AS skey
  FROM documents CROSS JOIN generate_series(0, 1) AS g(e)),
r AS (
  SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, skey,
         CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY skey ASC)
              AS BIGINT) AS rnk
  FROM e)
SELECT epoch, rnk, doc_id, skey FROM r WHERE rnk <= 10
"""


@query("epoch_shuffle_order", _EPOCH_SHUFFLE_ORACLE)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order generation: every epoch re-shuffles
    the corpus by ordering on md5(epoch:doc_id) — a different but fully
    reproducible permutation per epoch, identical on any cluster size
    (no RNG state, no driver). At scale the ORDER BY is a range
    partition on the hash key, i.e. the epoch's shard files fall out of
    a single sort; here the query surfaces the head of two epochs'
    orders as evidence the permutations differ and replay exactly."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = d.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    ).select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "doc_id",
        F.md5(
            F.concat(
                F.lit("epoch:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("skey"),
    )
    w = Window.partitionBy("epoch").orderBy(F.col("skey").asc())
    return (
        e.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("epoch", "rnk", "doc_id", "skey")
    )


# ---- length-bucketed batching for sequence training ----

_LENGTH_BUCKET_ORACLE = """
WITH t AS (
  SELECT len(list_filter(regexp_split_to_array(text, '\\s+'),
             x -> x <> '')) AS n_tok
  FROM documents),
b AS (
  SELECT n_tok,
         CASE WHEN n_tok < 16 THEN 'lt16' WHEN n_tok < 32 THEN 'lt32'
              WHEN n_tok < 64 THEN 'lt64' WHEN n_tok < 128 THEN 'lt128'
              WHEN n_tok < 256 THEN 'lt256' ELSE 'ge256' END AS bucket
  FROM t)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(CEIL(COUNT(*) / 32.0) AS BIGINT) AS n_batches,
       CAST(MAX(n_tok) AS BIGINT) AS max_tok,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       round(1.0 - CAST(SUM(n_tok) AS DOUBLE)
                   / (COUNT(*) * MAX(n_tok)), 6) AS pad_waste
FROM b GROUP BY bucket
"""


@query("length_bucket_batches", _LENGTH_BUCKET_ORACLE)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan (the pad-to-longest alternative to
    token_budget_packing): bucket documents by token count into fixed
    power-of-two ranges, then per bucket report batch count at size 32
    and the padding waste if every sequence pads to the bucket max.
    Single scan + tiny groupBy; the bucket column is the partition key
    a writer would use to emit homogeneous-length shards."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(TX.token_count("text").alias("n_tok"))
    bucket = (
        F.when(F.col("n_tok") < 16, "lt16")
        .when(F.col("n_tok") < 32, "lt32")
        .when(F.col("n_tok") < 64, "lt64")
        .when(F.col("n_tok") < 128, "lt128")
        .when(F.col("n_tok") < 256, "lt256")
        .otherwise("ge256")
    )
    return (
        t.select(F.col("n_tok"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.ceil(F.count(F.lit(1)) / 32.0).cast("bigint").alias("n_batches"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
            F.sum("n_tok").cast("bigint").alias("sum_tok"),
            F.round(
                1.0
                - F.sum("n_tok").cast("double")
                / (F.count(F.lit(1)) * F.max("n_tok")),
                6,
            ).alias("pad_waste"),
        )
    )


# ---- candidate-key discovery (data profiling) ----

_CANDIDATE_KEY_ORACLE = """
WITH t AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(DISTINCT o_orderkey) AS d1,
         COUNT(DISTINCT o_custkey) AS d2,
         COUNT(DISTINCT CAST(o_custkey AS VARCHAR) || '|'
               || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS d3,
         COUNT(DISTINCT o_orderstatus || '|' || o_orderpriority) AS d4
  FROM orders)
SELECT combo, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       n_distinct = n_rows AS is_key
FROM (
  SELECT 'o_orderkey' AS combo, n_rows, d1 AS n_distinct FROM t
  UNION ALL SELECT 'o_custkey', n_rows, d2 FROM t
  UNION ALL SELECT 'o_custkey|o_orderdate', n_rows, d3 FROM t
  UNION ALL SELECT 'o_orderstatus|o_orderpriority', n_rows, d4 FROM t)
"""


@query("candidate_key_profile", _CANDIDATE_KEY_ORACLE)
def candidate_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over a fixed combo lattice: exact distinct
    counts for four column combinations in ONE scan (Spark plans the
    multi-distinct agg as a 4x Expand — one pass over the data, partial
    aggregation map-side), then unpivoted to one row per combo with the
    uniqueness verdict. The profiling step that decides dedup keys and
    upsert merge keys before a pipeline hardcodes them."""
    o = _t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("d1"),
        F.countDistinct("o_custkey").alias("d2"),
        F.countDistinct(
            F.concat(
                F.col("o_custkey").cast("string"),
                F.lit("|"),
                F.col("o_orderdate").cast("date").cast("string"),
            )
        ).alias("d3"),
        F.countDistinct(
            F.concat(F.col("o_orderstatus"), F.lit("|"), F.col("o_orderpriority"))
        ).alias("d4"),
    )
    combos = agg.select(
        F.col("n_rows"),
        F.expr(
            "stack(4, 'o_orderkey', d1, 'o_custkey', d2, "
            "'o_custkey|o_orderdate', d3, "
            "'o_orderstatus|o_orderpriority', d4) AS (combo, n_distinct)"
        ),
    )
    return combos.select(
        "combo",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
    )


# ---- calibration of the learned quality model ----

_CALIBRATION_ORACLE = _LOGREG_ORACLE.replace(
    "SELECT doc_id, score, score >= 0.5 AS pred_high_quality FROM scored",
    """SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9) AS BIGINT)
         AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(score), 6) AS mean_score,
       round(AVG(y), 6) AS frac_high
FROM scored s JOIN feats f USING (doc_id)
GROUP BY 1""",
)


@query("logreg_calibration_bins", _CALIBRATION_ORACLE)
def logreg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the learned quality filter: decile-bin the
    predicted score and compare mean prediction to the empirical
    high-quality rate per bin — the calibration check that decides
    whether a score threshold is trustworthy as a keep-probability.
    Same distributed training as logreg_quality_scores (3 GD steps, one
    4-scalar aggregate each), then one groupBy over <=10 bins."""
    d = _t(spark, sf_dir, "documents")
    feats = quality_model.doc_features(d).transform(scoped_cache)
    trained = quality_model.train_logreg(feats)
    scored = quality_model.score_documents(feats, trained.weights)
    joined = scored.join(feats.select("doc_id", "y"), "doc_id")
    return (
        joined.select(
            F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9).cast("bigint"))
            .cast("bigint")
            .alias("bin"),
            "score",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.avg("y"), 6).alias("frac_high"),
        )
    )


# ===================================================================
# Round-4 wave 7 — row-level quarantine, compression-ratio quality,
# ingestion breadth (ORC / binaryFile exercised in tests)
# ===================================================================

# ---- row-level quarantine with violation signatures ----

_QUARANTINE_ORACLE = """
WITH p AS (
  SELECT CASE WHEN l_orderkey % 50 = 0 THEN -l_quantity
              ELSE l_quantity END AS q,
         CASE WHEN l_orderkey % 77 = 0 THEN 0.0
              ELSE l_extendedprice END AS ep,
         CASE WHEN l_orderkey % 91 = 0 THEN NULL
              ELSE l_discount END AS disc
  FROM lineitem),
f AS (
  SELECT list_sort(list_filter([
           CASE WHEN coalesce(q < 0, true) THEN 'neg_quantity' END,
           CASE WHEN coalesce(ep <= 0, true) THEN 'nonpos_price' END,
           CASE WHEN coalesce(disc < 0 OR disc > 0.6, true)
                THEN 'bad_discount' END],
         x -> x IS NOT NULL)) AS v
  FROM p)
SELECT CASE WHEN len(v) = 0 THEN '__none__'
            ELSE array_to_string(v, ',') END AS violations,
       CAST(COUNT(*) AS BIGINT) AS n
FROM f GROUP BY 1
"""


@query("quarantine_counts", _QUARANTINE_ORACLE)
def quarantine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch quarantine (dq.quarantine_split — the batch twin of the
    streaming DLQ): violations are seeded in-query (negated quantities,
    zeroed prices, NULLed discounts on modular orderkeys), rows split
    good/bad in one map-side flags projection, and the bad side grouped
    by its sorted violation signature. The NULLed discounts exercise the
    three-valued-logic posture: a NULL-evaluating rule is a violation
    (unknown is not a pass), so corrupt rows can't slip through."""
    li = _t(spark, sf_dir, "lineitem")
    planted = li.select(
        F.when(F.col("l_orderkey") % 50 == 0, -F.col("l_quantity"))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity"),
        F.when(F.col("l_orderkey") % 77 == 0, F.lit(0.0))
        .otherwise(F.col("l_extendedprice"))
        .alias("l_extendedprice"),
        F.when(F.col("l_orderkey") % 91 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("l_discount"))
        .alias("l_discount"),
    )
    good, bad = dq.quarantine_split(
        planted,
        {
            "neg_quantity": F.col("l_quantity") < 0,
            "nonpos_price": F.col("l_extendedprice") <= 0,
            "bad_discount": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.6),
        },
    )
    bad_counts = bad.groupBy("violations").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    good_count = good.agg(
        F.lit("__none__").alias("violations"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return bad_counts.unionAll(good_count)


# ---- compression-ratio quality signal (Arrow-batched zlib) ----


@query("compression_ratio_quality")  # rows-only: zlib is not SQL-expressible
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression-ratio profile
    (functions.pandas_udfs.compression_ratio_udf): zlib ratio per
    document — the low-information-content detector (boilerplate and
    template spam compress far below normal prose). The codec genuinely
    needs Python, so this is the sanctioned Arrow-batch escape hatch;
    pytest pins the UDF bit-for-bit to a serial zlib run, and the
    distributed gate below is the oracled correctness signal."""
    from etl_bigquery_pipeline_spark.functions.pandas_udfs import (
        compression_ratio_udf,
    )

    d = _t(spark, sf_dir, "documents")
    r = d.select("source", compression_ratio_udf(F.col("text")).alias("ratio"))
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("avg_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
        )
        .orderBy("source")
    )


@query(
    "compression_quality_gate",
    "SELECT true AS spam_below_corpus, true AS ratios_bounded",
)
def compression_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled gate for the zlib signal: a planted maximally-repetitive
    document must compress far below the corpus average (the property the
    filter exploits), and every ratio must be positive and bounded. Both
    reductions are distributed aggregates over the UDF column; only two
    booleans reach the driver."""
    from etl_bigquery_pipeline_spark.functions.pandas_udfs import (
        compression_ratio_udf,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spam = spark.range(1).select(
        F.lit(9000001).cast("bigint").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("spam"), 500)).alias("text"),
    )
    r = d.unionAll(spam).select(
        "doc_id", compression_ratio_udf(F.col("text")).alias("ratio")
    )
    agg = r.agg(
        F.min(F.when(F.col("doc_id") == 9000001, F.col("ratio"))).alias("spam_r"),
        F.avg(F.when(F.col("doc_id") != 9000001, F.col("ratio"))).alias("corpus_r"),
        F.min("ratio").alias("lo"),
        F.max("ratio").alias("hi"),
    )
    return agg.select(
        (F.col("spam_r") < F.col("corpus_r") * 0.5).alias("spam_below_corpus"),
        ((F.col("lo") > 0) & (F.col("hi") <= 1.2)).alias("ratios_bounded"),
    )


# ===================================================================
# Round-4 wave 8 — waterfilling mixture optimizer, mixed-language
# detection, sharded JSONL export (sink exercised in tests)
# ===================================================================

# ---- waterfilling: sampling rates under per-source capacity caps ----

_WATERFILL_ORACLE = """
WITH caps AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> ''))) AS DOUBLE) AS cap
  FROM documents GROUP BY source),
t AS (SELECT COUNT(*) AS n, SUM(cap) AS total FROM caps),
o AS (
  SELECT c.source, c.cap, 1.0 / t.n AS w, c.cap * t.n AS ratio,
         0.8 * t.total AS b
  FROM caps c CROSS JOIN t),
r AS (
  SELECT *,
         SUM(cap) OVER (ORDER BY ratio, source
                        ROWS UNBOUNDED PRECEDING) AS cumc,
         SUM(w) OVER (ORDER BY ratio, source
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         lag(ratio, 1, 0.0) OVER (ORDER BY ratio, source) AS prev_ratio
  FROM o),
s AS (
  SELECT *, (b - (cumc - cap)) / (1.0 - (cumw - w)) AS rj FROM r),
star AS (
  SELECT min(rj) AS rstar FROM s
  WHERE rj >= prev_ratio AND rj <= ratio)
SELECT o.source, CAST(o.cap AS BIGINT) AS tokens,
       round(least(o.cap, star.rstar * o.w), 4) AS alloc_tokens,
       round(least(o.cap, star.rstar * o.w) / o.cap, 6) AS sample_rate,
       o.cap <= star.rstar * o.w AS capped
FROM o CROSS JOIN star
"""


@query("mixture_waterfill_rates", _WATERFILL_ORACLE)
def mixture_waterfill_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture optimizer under per-source capacity caps (the Dolma/Pile
    mixing problem): target uniform source weights, budget = 80% of the
    corpus tokens; sources too small to supply their share are capped at
    capacity and the surplus waterfalls to the rest. Closed-form
    waterfilling: sort sources by capacity/weight, prefix-sum, pick the
    unique breakpoint where the implied water level lands inside its
    interval — no iteration, no driver loop, and the whole computation
    runs on the per-SOURCE aggregate (thousands of rows at any corpus
    scale, so the post-agg global window is trivially bounded). Emits
    per-source allocation, sampling rate, and the capped verdict."""
    d = _t(spark, sf_dir, "documents")
    caps = d.groupBy("source").agg(
        F.sum(TX.token_count("text")).cast("double").alias("cap")
    )
    t = caps.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cap").alias("total")
    )
    o = caps.crossJoin(F.broadcast(t)).select(
        "source",
        "cap",
        (F.lit(1.0) / F.col("n")).alias("w"),
        (F.col("cap") * F.col("n")).alias("ratio"),
        (F.lit(0.8) * F.col("total")).alias("b"),
    )
    ww = Window.orderBy("ratio", "source")
    cum = Window.orderBy("ratio", "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = o.select(
        "*",
        F.sum("cap").over(cum).alias("cumc"),
        F.sum("w").over(cum).alias("cumw"),
        F.lag("ratio", 1, 0.0).over(ww).alias("prev_ratio"),
    ).withColumn(
        "rj",
        (F.col("b") - (F.col("cumc") - F.col("cap")))
        / (F.lit(1.0) - (F.col("cumw") - F.col("w"))),
    )
    star = (
        s.filter((F.col("rj") >= F.col("prev_ratio")) & (F.col("rj") <= F.col("ratio")))
        .agg(F.min("rj").alias("rstar"))
    )
    return o.crossJoin(F.broadcast(star)).select(
        "source",
        F.col("cap").cast("bigint").alias("tokens"),
        F.round(F.least(F.col("cap"), F.col("rstar") * F.col("w")), 4).alias(
            "alloc_tokens"
        ),
        F.round(
            F.least(F.col("cap"), F.col("rstar") * F.col("w")) / F.col("cap"), 6
        ).alias("sample_rate"),
        (F.col("cap") <= F.col("rstar") * F.col("w")).alias("capped"),
    )


# ---- mixed-language detection: chunk-level lang-ID disagreement ----


def _mixed_lang_oracle() -> str:
    from etl_bigquery_pipeline_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score_cols = []
    for lang in langs:
        markers = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(ctoks, x -> list_contains([{markers}], x)))"
            f" AS s_{lang}"
        )
    first, rest = langs[0], langs[1:]
    guess_expr = f"'{first}'"
    best_expr = f"s_{first}"
    for lang in rest:
        guess_expr = (
            f"CASE WHEN s_{lang} > {best_expr} THEN '{lang}' ELSE {guess_expr} END"
        )
        best_expr = f"greatest({best_expr}, s_{lang})"
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
n AS (
  SELECT doc_id, toks,
         greatest(CAST(ceil(len(toks) / 32.0) AS INT), 1) AS n_chunks
  FROM t),
c AS (
  SELECT doc_id,
         unnest([list_transform(toks[i*32 + 1 : i*32 + 32], x -> lower(x))
                 for i in generate_series(0, n_chunks - 1)]) AS ctoks
  FROM n),
g AS (SELECT doc_id, {", ".join(score_cols)} FROM c),
cl AS (SELECT doc_id, {guess_expr} AS clang FROM g),
per AS (SELECT doc_id, clang, COUNT(*) AS cnt FROM cl GROUP BY 1, 2),
stats AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
         CAST(COUNT(*) AS BIGINT) AS n_langs
  FROM per GROUP BY 1),
top AS (
  SELECT doc_id, clang AS majority_lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, clang ASC) AS rn
  FROM per)
SELECT s.doc_id, s.n_chunks, s.n_langs, top.majority_lang,
       round(CAST(top.cnt AS DOUBLE) / s.n_chunks, 6) AS majority_frac
FROM stats s JOIN top ON top.doc_id = s.doc_id AND top.rn = 1
WHERE s.n_chunks >= 2
"""


@query("mixed_language_docs", _mixed_lang_oracle())
def mixed_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level language coherence (the curation signal behind
    splitting or dropping code-switched / concatenated-crawl documents):
    run the stopword-marker lang-ID per 32-token chunk and report, per
    multi-chunk document, how many distinct languages its chunks vote
    for and the majority share. Pure explode + two small groupBys keyed
    by doc_id; the per-doc window ranks at most a handful of language
    rows. Docs with n_langs > 1 are the mixed-language candidates."""
    from etl_bigquery_pipeline_spark.functions.text import STOPWORDS

    d = _t(spark, sf_dir, "documents")
    # scalable lang scoring: instead of lang_guess's per-language
    # higher-order filters (interpreted lambdas, K x |markers| work per
    # chunk), explode chunk tokens once and count marker hits through a
    # broadcast (marker-word, lang) join — identical semantics (marker
    # hit-count argmax, ties alphabetical, zero-hit chunks default to the
    # first language), hash-join speed
    langs = sorted(STOPWORDS)
    markers = F.broadcast(
        spark.createDataFrame(
            # single slice: the default spreads a few hundred literal
            # rows over defaultParallelism pickled Python-RDD slices,
            # each a Python-worker round-trip per consumption
            # (operators/localrel.py)
            spark.sparkContext.parallelize(
                [(w, lang) for lang in langs for w in sorted(set(STOPWORDS[lang]))], 1
            ),
            "__w string, __lang string",
        )
    )
    toks = d.select("doc_id", TX.tokens("text").alias("__toks")).select(
        "doc_id",
        F.transform("__toks", F.lower).alias("__lt"),
        F.size("__toks").alias("__nt"),
    )
    spine = toks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.ceil(F.col("__nt") / 32.0).cast("int"), F.lit(1))
                - 1,
            )
        ).alias("__ci"),
        "__lt",
    ).select(
        "doc_id", "__ci", F.slice("__lt", F.col("__ci") * 32 + 1, 32).alias("__ct")
    ).transform(scoped_cache)
    hits = (
        spine.select("doc_id", "__ci", F.explode("__ct").alias("__w"))
        .join(markers, "__w")
        .groupBy("doc_id", "__ci", "__lang")
        .agg(F.count(F.lit(1)).alias("__s"))
    )
    bw = Window.partitionBy("doc_id", "__ci").orderBy(
        F.col("__s").desc(), F.col("__lang").asc()
    )
    best = (
        hits.withColumn("__rn", F.row_number().over(bw))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "__ci", F.col("__lang").alias("clang"))
    )
    chunks = spine.select("doc_id", "__ci").join(
        best, ["doc_id", "__ci"], "left"
    ).select(
        "doc_id", F.coalesce(F.col("clang"), F.lit(langs[0])).alias("clang")
    )
    per = chunks.groupBy("doc_id", "clang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("clang").asc()
    )
    top = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("clang").alias("majority_lang"), "cnt")
    )
    return (
        stats.join(top, "doc_id")
        .filter(F.col("n_chunks") >= 2)
        .select(
            "doc_id",
            "n_chunks",
            "n_langs",
            "majority_lang",
            F.round(F.col("cnt").cast("double") / F.col("n_chunks"), 6).alias(
                "majority_frac"
            ),
        )
    )


# ===================================================================
# Round-4 wave 9 — TPC-H-shaped multi-join analytics breadth
# (Q7/Q8/Q14/Q19/Q22 adaptations to this schema)
# ===================================================================

_Q7_ORACLE = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


@query("nation_trade_flows", _Q7_ORACLE)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between every
    CROSS-nation (customer-nation, supplier-nation) pair by ship year.
    Five-way join: nation broadcast twice under different aliases,
    customer/supplier broadcast, the only big shuffle is
    lineitem-orders on orderkey; the date filter pushes down to the
    lineitem scan."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    n1 = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("snk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


_Q8_ORACLE = """
WITH flows AS (
  SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         n2.n_name AS supp_nation,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA')
SELECT l_year,
       round(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
FROM flows GROUP BY l_year
"""


@query("market_share_by_year", _Q8_ORACLE)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_7 suppliers' share
    of all revenue delivered into ASIA customers, per ship year — the
    conditional-aggregate-over-star-join pattern. Every dimension
    broadcasts; the share is a ratio of two decimal-exact sums computed
    in ONE aggregate (no second pass for the denominator)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    asia_nk = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("cnk")
        )
    )
    n2 = F.broadcast(
        n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(asia_nk, F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(n2, F.col("s_nationkey") == F.col("snk"))
        .groupBy(F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


_Q14_ORACLE = """
SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS l_month,
       round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


@query("promo_revenue_share", _Q14_ORACLE)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): PROMO parts' percentage of
    revenue per ship month. Part broadcasts (dimension); numerator and
    denominator fuse into one aggregate over the single fact scan."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            F.month("l_shipdate").cast("bigint").alias("l_month"),
        )
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


_Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#2' AND p_size <= 20
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


@query("complex_predicate_revenue", _Q19_ORACLE)
def complex_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR-of-ANDs predicate
    spanning both join sides. The join itself stays a plain broadcast
    equi-join on partkey; the disjunction is a post-join filter — the
    plan Catalyst picks when the residual cannot be pushed into either
    side. One scalar row out."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 10)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 30)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


_Q22_ORACLE = """
WITH cutoff AS (
  SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0),
idle AS (
  SELECT c.c_mktsegment, c.c_acctbal
  FROM customer c CROSS JOIN cutoff
  WHERE c.c_acctbal > cutoff.avg_bal
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM idle GROUP BY c_mktsegment
"""


@query("idle_rich_customers", _Q22_ORACLE)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers whose
    balance beats the positive-balance average but who have never
    ordered, grouped by market segment. Scalar-subquery cutoff (1-row
    broadcast cross join) + broadcast LEFT ANTI against the orders
    custkey projection — the anti join ships only the distinct custkey
    column, never order rows."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    cutoff = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            exact_sum("c_acctbal").alias("total_bal"),
        )
    )


# ===================================================================
# Round-4 wave 10 — graph-ML training data (negative sampling,
# deterministic walks) + exactly-k weighted reservoir sampling
# ===================================================================

_COPURCHASE_EDGE_CTE = """
__pr AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
__e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM __pr a JOIN __pr b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
__nodes AS (SELECT u AS node FROM __e UNION SELECT v FROM __e)
"""

_NEG_SAMPLE_ORACLE = f"""
WITH {_COPURCHASE_EDGE_CTE},
probes AS (SELECT node AS probe FROM __nodes WHERE node % 500 = 0),
cands AS (
  SELECT p.probe, n.node AS cand
  FROM probes p CROSS JOIN __nodes n WHERE n.node <> p.probe),
non_adj AS (
  SELECT probe, cand FROM cands c
  WHERE NOT EXISTS (SELECT 1 FROM __e
                    WHERE u = least(c.probe, c.cand)
                      AND v = greatest(c.probe, c.cand))),
r AS (
  SELECT probe, cand,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY probe
           ORDER BY md5('negs:' || CAST(probe AS VARCHAR) || ':'
                        || CAST(cand AS VARCHAR)) ASC, cand ASC)
         AS BIGINT) AS rnk
  FROM non_adj)
SELECT probe, cand AS negative, rnk FROM r WHERE rnk <= 5
"""


@query("graph_negative_samples", _NEG_SAMPLE_ORACLE)
def graph_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction negative sampling over the part co-purchase graph
    (operators.graph.negative_samples): per probe node, the 5
    non-adjacent nodes ranked first by a salted md5 — a reproducible
    pseudo-random draw with no RNG state, so the training pairs are
    identical on any cluster and replayable by the oracle. Probe work is
    linear in |V| (broadcast probes x vertex set), the true-edge check a
    single anti-join of id pairs."""
    from etl_bigquery_pipeline_spark.operators import graph

    l = _t(spark, sf_dir, "lineitem")
    pairs = graph.cooccurrence_pairs(l, "l_orderkey", "l_partkey")
    edges = scoped_cache(graph.undirected_edges(pairs, "pa", "pb"))
    nodes = (
        edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )
    probes = nodes.filter(F.col("node") % 500 == 0)
    return graph.negative_samples(edges, probes, k=5, salt="negs")


def _walks_oracle(steps: int = 3) -> str:
    parts = [
        "__adj AS (SELECT u AS src, v AS nbr FROM __e "
        "UNION ALL SELECT v AS src, u AS nbr FROM __e)",
        "w0 AS (SELECT node AS walk_id, node FROM __nodes "
        "WHERE node % 500 = 0)",
    ]
    for s in range(1, steps + 1):
        parts.append(
            f"c{s} AS (SELECT w.walk_id, a.nbr, "
            f"ROW_NUMBER() OVER (PARTITION BY w.walk_id ORDER BY "
            f"md5('walk:' || CAST(w.walk_id AS VARCHAR) || ':{s}:' "
            f"|| CAST(w.node AS VARCHAR) || ':' || CAST(a.nbr AS VARCHAR)) "
            f"ASC, a.nbr ASC) AS rn "
            f"FROM w{s-1} w JOIN __adj a ON w.node = a.src)"
        )
        parts.append(
            f"w{s} AS (SELECT walk_id, nbr AS node FROM c{s} WHERE rn = 1)"
        )
    selects = " UNION ALL ".join(
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step, node FROM w{s}"
        for s in range(0, steps + 1)
    )
    return (
        f"WITH {_COPURCHASE_EDGE_CTE}, " + ", ".join(parts) + " " + selects
    )


@query("deterministic_random_walks", _walks_oracle())
def deterministic_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus over the co-purchase graph,
    made reproducible (operators.graph.deterministic_walks): each hop
    picks the neighbor minimizing a salted md5, so the walk corpus is
    identical across runs/engines and the oracle replays it with
    unrolled per-step CTEs. Each hop is one frontier-adjacency join +
    per-walk argmin — the iterative shape shared with PageRank; the
    adjacency builds once and is scope-cached across hops."""
    from etl_bigquery_pipeline_spark.operators import graph

    l = _t(spark, sf_dir, "lineitem")
    pairs = graph.cooccurrence_pairs(l, "l_orderkey", "l_partkey")
    edges = scoped_cache(graph.undirected_edges(pairs, "pa", "pb"))
    nodes = (
        edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )
    starts = nodes.filter(F.col("node") % 500 == 0)
    return graph.deterministic_walks(edges, starts, steps=3, salt="walk")


_RESERVOIR_ORACLE = f"""
WITH s AS (
  SELECT doc_id, source, n_chars,
         round(-ln((({_hex8_to_int_sql(
             "substring(md5('ares:' || CAST(doc_id AS VARCHAR)), 1, 8)"
         )}) % 100000 + 1) / 100001.0) / n_chars, 6) AS score
  FROM documents),
r AS (
  SELECT doc_id, source, score,
         CAST(ROW_NUMBER() OVER (ORDER BY score ASC, doc_id ASC) AS BIGINT)
           AS rnk
  FROM s)
SELECT doc_id, source, score, rnk FROM r WHERE rnk <= 100
"""


@query("weighted_reservoir_sample", _RESERVOIR_ORACLE)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-100 weighted sample of documents, weight = n_chars
    (operators.sampling.weighted_reservoir_topk — Efraimidis-Spirakis
    A-ES keys over the deterministic md5 uniform). Fixed output size is
    the contract weighted_sample (Bernoulli) cannot give; the global
    top-k plans as TakeOrderedAndProject (per-partition top-k, merged),
    never a single-partition window. Scores rounded with id tie-break so
    ranking is identical across engines."""
    from etl_bigquery_pipeline_spark.operators import sampling

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = sampling.weighted_reservoir_topk(
        d, F.col("n_chars"), "doc_id", k=100, salt="ares"
    )
    return out.select("doc_id", "source", "score", "rnk")


# ===================================================================
# Round-4 wave 11 — SFT transcript assembly, duplicate-span detection,
# Gopher-rule quality gates
# ===================================================================

_TRANSCRIPT_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS transcript
FROM events GROUP BY user_id
"""


@query("session_transcripts", _TRANSCRIPT_ORACLE)
def session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-transcript assembly (the SFT-formatting step: turn an
    event/message log into one ordered text per conversation): per user,
    the time-ordered event-type sequence joined into a single string.
    Ordering inside the aggregate is made deterministic by sorting the
    collected (ts, event_id, type) structs — groupBy collect_list alone
    has NO order guarantee under retries/merges, the classic silent
    nondeterminism bug in distributed transcript builders. One shuffle
    on the conversation key; each group's sort is local and bounded by
    conversation length."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("__ord"),
        )
        .select(
            "user_id",
            "n_events",
            F.array_join(
                F.transform(F.col("__ord"), lambda s: s["event_type"]), " "
            ).alias("transcript"),
        )
    )


# ---- duplicate n-gram spans (exact-substring dedup signal) ----

_DUP_SPAN_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' please subscribe to our newsletter for the'
                        || ' latest updates and offers from our team'
                        || ' delivered straight to your inbox every week'
              ELSE text END AS text
  FROM documents),
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM docs),
sp AS (
  SELECT doc_id,
         unnest([md5(array_to_string(toks[i:i+19], ' '))
                 for i in generate_series(1, len(toks) - 19)]) AS span_h
  FROM t WHERE len(toks) >= 20),
g AS (
  SELECT span_h, COUNT(*) AS occs, COUNT(DISTINCT doc_id) AS docs
  FROM sp GROUP BY span_h),
dup AS (SELECT * FROM g WHERE docs >= 2)
SELECT CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS n_spans,
       CAST((SELECT COUNT(*) FROM dup) AS BIGINT) AS n_dup_spans,
       CAST((SELECT coalesce(SUM(occs), 0) FROM dup) AS BIGINT)
         AS dup_occurrences,
       CAST((SELECT COUNT(DISTINCT sp.doc_id) FROM sp
             JOIN dup ON sp.span_h = dup.span_h) AS BIGINT)
         AS docs_with_dup_spans
"""


@query("duplicate_ngram_spans", _DUP_SPAN_ORACLE)
def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (the rolling-window
    approximation of suffix-array dedup a la 'Deduplicating Training
    Data Makes Language Models Better', public method): hash every
    rolling 20-token span, count spans occurring in >= 2 documents.
    Planted: a fixed boilerplate sentence appended to every 7th doc, so
    the cross-document span family is known. The shuffle carries only
    (span-md5, doc_id) — one row per token position, the same explode
    economy as the shingle operators; the corpus body never moves."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = (
        " please subscribe to our newsletter for the latest updates and"
        " offers from our team delivered straight to your inbox every week"
    )
    docs = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(boiler))
        ).otherwise(F.col("text")).alias("text"),
    )
    toks = docs.select(
        "doc_id", TX.tokens("text").alias("__toks")
    ).filter(F.size("__toks") >= 20)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - 19),
                lambda i: F.md5(F.array_join(F.slice("__toks", i, 20), " ")),
            )
        ).alias("span_h"),
    ).transform(scoped_cache)
    g = spans.groupBy("span_h").agg(
        F.count(F.lit(1)).alias("occs"),
        F.countDistinct("doc_id").alias("docs"),
    ).transform(scoped_cache)
    dup = g.filter(F.col("docs") >= 2)
    n_spans = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_spans"))
    dups = dup.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
        F.coalesce(F.sum("occs"), F.lit(0)).cast("bigint").alias("dup_occurrences"),
    )
    affected = (
        spans.join(dup.select("span_h"), "span_h", "left_semi")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("docs_with_dup_spans"))
    )
    return n_spans.crossJoin(dups).crossJoin(affected)


# ---- Gopher-style rule gate ----

_GOPHER_ORACLE = """
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
m AS (
  SELECT source, len(toks) AS n_words,
         CAST(list_sum([length(x) for x in toks]) AS DOUBLE)
           / greatest(len(toks), 1) AS mean_len,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]')))
              AS DOUBLE) / greatest(len(toks), 1) AS alpha_frac
  FROM t),
f AS (
  SELECT source,
         n_words < 30 AS fail_short,
         n_words > 10000 AS fail_long,
         mean_len < 3 OR mean_len > 12 AS fail_mean_len,
         alpha_frac < 0.8 AS fail_alpha
  FROM m)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE NOT (fail_short OR fail_long
            OR fail_mean_len OR fail_alpha)) AS BIGINT) AS pass_all,
       CAST(COUNT(*) FILTER (WHERE fail_short) AS BIGINT) AS n_fail_short,
       CAST(COUNT(*) FILTER (WHERE fail_mean_len) AS BIGINT)
         AS n_fail_mean_len,
       CAST(COUNT(*) FILTER (WHERE fail_alpha) AS BIGINT) AS n_fail_alpha
FROM f GROUP BY source
"""


@query("gopher_quality_flags", _GOPHER_ORACLE)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gate (Rae et al. 2021, public heuristics): word
    count bounds, mean word length band, alphabetic-token fraction —
    each a pure JVM expression over one scan, aggregated to a per-source
    pass/fail dashboard. The rule-based sibling of the learned filter
    (logreg_quality_scores): at 100 TB these run first and cheaply, the
    model scores what survives."""
    d = _t(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    m = d.select(
        "source",
        F.size(toks).alias("n_words"),
        (
            F.aggregate(
                F.transform(toks, lambda x: F.length(x).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("mean_len"),
        (
            F.size(F.filter(toks, lambda x: x.rlike("^[A-Za-z]"))).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("alpha_frac"),
    )
    f = m.select(
        "source",
        (F.col("n_words") < 30).alias("fail_short"),
        (F.col("n_words") > 10000).alias("fail_long"),
        ((F.col("mean_len") < 3) | (F.col("mean_len") > 12)).alias("fail_mean_len"),
        (F.col("alpha_frac") < 0.8).alias("fail_alpha"),
    )
    any_fail = (
        F.col("fail_short")
        | F.col("fail_long")
        | F.col("fail_mean_len")
        | F.col("fail_alpha")
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(~any_fail).cast("bigint").alias("pass_all"),
        F.count_if(F.col("fail_short")).cast("bigint").alias("n_fail_short"),
        F.count_if(F.col("fail_mean_len")).cast("bigint").alias("n_fail_mean_len"),
        F.count_if(F.col("fail_alpha")).cast("bigint").alias("n_fail_alpha"),
    )


# ===================================================================
# Round-4 wave 12 — entity resolution closure, rollup-cascade parity,
# k-anonymity, incremental join-view maintenance
# ===================================================================

_ENTITY_ORACLE = """
WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
t AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM n),
p AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 2),
edges AS (
  SELECT name_a AS src, name_b AS dst FROM p
  UNION SELECT name_b, name_a FROM p),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)
SELECT node AS p_name, MIN(label) AS canonical_name
FROM reach GROUP BY node
"""


@query("entity_resolution_clusters", _ENTITY_ORACLE)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (record linkage): blocked Levenshtein
    match pairs (the fuzzy_name_pairs machinery) closed transitively into
    entities via pointer-doubled min-label propagation
    (graph.connected_components — log-diameter rounds of id/label
    equi-joins), each name mapped to its cluster's lexicographic-minimum
    canonical. The oracle closes the same pairs with a recursive CTE.
    Output covers names that matched at least one other name; singletons
    are already canonical by definition."""
    from etl_bigquery_pipeline_spark.operators import graph

    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    t = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 2)
        .select(F.col("a.p_name").alias("u"), F.col("b.p_name").alias("v"))
    )
    return graph.connected_components(pairs).select(
        F.col("node").alias("p_name"),
        F.col("component_id").alias("canonical_name"),
    )


_CASCADE_ORACLE = """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
       round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*), 4) AS value_avg
FROM events GROUP BY 1, 2
"""


@query("rollup_cascade_parity", _CASCADE_ORACLE)
def rollup_cascade_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-routing cascade (plans/aggregates): the MONTHLY answer
    computed FROM the persisted daily rollup — sums of sums, min of
    mins, avg finalized from (sum, count), never averaged averages —
    while the oracle computes the same months directly from raw events.
    A green hash PROVES the cascade is lossless: additive measures in
    exact decimal re-merge associatively, so routing dashboards to the
    rollup instead of the raw fact table costs nothing in correctness
    (and ~30x less scan at this data's fan-in)."""
    from etl_bigquery_pipeline_spark.plans import aggregates

    e = _t(spark, sf_dir, "events")
    daily = aggregates.build_daily_rollup(e)
    monthly = aggregates.rollup_to_monthly(daily)
    return monthly.select(
        "month",
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
        "value_avg",
    )


_KANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS grp
  FROM customer GROUP BY 1, 2)
SELECT CAST(MIN(grp) AS BIGINT) AS k_min,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COUNT(*) FILTER (WHERE grp < 5) AS BIGINT) AS groups_below_5,
       CAST(coalesce(SUM(grp) FILTER (WHERE grp < 5), 0) AS BIGINT)
         AS rows_at_risk
FROM g
"""


@query("k_anonymity_check", _KANON_ORACLE)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy DQ: k-anonymity of the (nation, market-segment)
    quasi-identifier — the minimum equivalence-class size, and how many
    rows sit in classes below k=5 (re-identifiable under linkage
    attacks). One groupBy + one scalar aggregate; the release gate a
    privacy review runs before sharing a slice."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp")
    )
    return g.agg(
        F.min("grp").cast("bigint").alias("k_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.count_if(F.col("grp") < 5).cast("bigint").alias("groups_below_5"),
        F.coalesce(F.sum(F.when(F.col("grp") < 5, F.col("grp"))), F.lit(0))
        .cast("bigint")
        .alias("rows_at_risk"),
    )


@query(
    "incremental_join_view_parity",
    "SELECT true AS counts_match, true AS revenue_match",
)
def incremental_join_view_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the delta algebra:
    dV = dA |><| B_old + A_old |><| dB + dA |><| dB), proven against full
    recompute. The orders-customer join view starts from a 90% snapshot
    of both sides; the held-out 10% arrives as deltas and only
    delta-sized joins run — at 100 TB this is the difference between
    touching the day's ingest and re-joining two full tables. The gate
    checks row count AND exact-decimal revenue parity with the
    from-scratch join; one boolean row reaches the driver."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o_old = o.filter(F.col("o_orderkey") % 10 != 0).transform(scoped_cache)
    do = o.filter(F.col("o_orderkey") % 10 == 0)
    c_old = c.filter(F.col("c_custkey") % 10 != 0).transform(scoped_cache)
    dc = c.filter(F.col("c_custkey") % 10 == 0)
    key = o["o_custkey"] == c["c_custkey"]

    def j(left, right):
        return left.join(
            right, left["o_custkey"] == right["c_custkey"]
        ).select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")

    v_old = j(o_old, c_old)
    dv = j(do, c_old).unionByName(j(o_old, dc)).unionByName(j(do, dc))
    v_incr = v_old.unionByName(dv)
    v_full = j(o, c)

    def summarize(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
        )

    # one driver action instead of two: both summaries crossJoin into a
    # single lazy plan; count and exact-decimal equality evaluate in-plan.
    # Null-safe: an empty view sums to NULL on both sides, which matches
    a = summarize(v_incr)
    b = summarize(v_full).withColumnsRenamed({"n": "__n2", "s": "__s2"})
    return a.crossJoin(b).select(
        (F.col("n") == F.col("__n2")).alias("counts_match"),
        F.col("s").eqNullSafe(F.col("__s2")).alias("revenue_match"),
    )


# ===================================================================
# Round-4 wave 14 — classic relational patterns: gaps & islands,
# streaks, conditional window resets, robust (MAD) anomalies, rank ties
# ===================================================================

_GAPS_ORACLE = """
WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders),
r AS (SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp FROM k),
isl AS (
  SELECT MIN(k) AS island_start, MAX(k) AS island_end,
         CAST(COUNT(*) AS BIGINT) AS island_len
  FROM r GROUP BY grp)
SELECT island_start, island_end, island_len FROM isl
ORDER BY island_start LIMIT 20
"""


@query("orderkey_gap_islands", _GAPS_ORACLE)
def orderkey_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the orderkey sequence (the classic
    key - row_number() grouping trick): contiguous id runs collapse to
    one group key, so islands fall out of a single groupBy. The global
    row_number runs over the DISTINCT KEY projection — at 100 TB the
    distinct keys are still orders of magnitude smaller than the fact
    rows, and the ordered pass is a range sort, not a driver collect.
    First 20 islands by start — the audit view that spots id-space holes
    left by failed ingest batches. The global numbering uses the
    range-partition + offsets machinery (windows.with_global_row_number),
    never a single-partition window."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k")).distinct()
    r, _total = windows.with_global_row_number(o, ["k"], rn_col="__rn")
    r = r.withColumn("grp", F.col("k") - F.col("__rn"))
    return (
        r.groupBy("grp")
        .agg(
            F.min("k").alias("island_start"),
            F.max("k").alias("island_end"),
            F.count(F.lit(1)).cast("bigint").alias("island_len"),
        )
        .drop("grp")
        .orderBy("island_start")
        .limit(20)
    )


_STREAK_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
r AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS grp
  FROM d),
s AS (
  SELECT user_id, MIN(day) AS streak_start, CAST(COUNT(*) AS BIGINT) AS len
  FROM r GROUP BY user_id, grp),
b AS (
  SELECT user_id, streak_start, len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, streak_start ASC) AS rn
  FROM s)
SELECT user_id, streak_start, len AS streak_days
FROM b WHERE rn = 1 AND len >= 3
"""


@query("activity_streaks", _STREAK_ORACLE)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (engagement
    metric): the date-minus-row_number constant marks each run of
    consecutive days, a per-user groupBy measures the runs, a window
    keeps the longest. Every window partitions by user — even shuffle,
    no global ordering anywhere. Users with streaks >= 3 days."""
    e = _t(spark, sf_dir, "events")
    d = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    wu = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn(
        "grp",
        F.date_sub(F.col("day"), F.row_number().over(wu)),
    )
    s = r.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.count(F.lit(1)).cast("bigint").alias("len"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(wb))
        .filter((F.col("rn") == 1) & (F.col("len") >= 3))
        .select("user_id", "streak_start", F.col("len").alias("streak_days"))
    )


_SINCE_PURCHASE_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         COUNT(*) FILTER (WHERE event_type = 'purchase')
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
  FROM events),
w AS (
  SELECT user_id, event_id, event_type,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id, epoch
                                 ORDER BY ts, event_id) - 1 AS BIGINT)
           AS events_since_purchase,
         CASE WHEN event_type = 'purchase' THEN 0
              ELSE NULL END AS is_reset
  FROM e
  WHERE epoch > 0 AND event_type <> 'purchase')
SELECT user_id, event_id, event_type, events_since_purchase
FROM w
"""


@query("events_since_last_purchase", _SINCE_PURCHASE_ORACLE)
def events_since_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional window reset (counter that restarts at each marker
    event): a running count of purchases partitions each user's timeline
    into epochs, then a row_number within (user, epoch) counts events
    since the last purchase — the two-window composition that expresses
    'resettable' state without any stateful UDF. Post-purchase events
    only; both windows shuffle by user, never globally."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(wu)
    we = Window.partitionBy("user_id", "epoch").orderBy("ts", "event_id")
    return (
        e.withColumn("epoch", epoch)
        .filter((F.col("epoch") > 0) & (F.col("event_type") != "purchase"))
        .withColumn(
            "events_since_purchase",
            (F.row_number().over(we) - 1).cast("bigint"),
        )
        .select("user_id", "event_id", "event_type", "events_since_purchase")
    )


_MAD_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1),
med AS (SELECT quantile_cont(rev, 0.5) AS m FROM daily),
dev AS (
  SELECT d.day, d.rev, abs(d.rev - med.m) AS ad, med.m
  FROM daily d CROSS JOIN med),
mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
SELECT dev.day, round(dev.rev, 4) AS rev,
       round((dev.rev - dev.m) / (1.4826 * mad.mad), 4) AS robust_z
FROM dev CROSS JOIN mad
WHERE abs((dev.rev - dev.m) / (1.4826 * mad.mad)) > 2.5
"""


@query("mad_anomalies", _MAD_ORACLE)
def mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation — unlike
    the stddev z-score (daily_revenue_anomalies), the MAD denominator is
    immune to the very outliers being hunted, so one extreme day can't
    mask others. Both medians are exact interpolated percentiles over
    the DAILY aggregate (calendar-bounded rows); each scalar broadcasts
    back via the sanctioned 1-row cross join."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    ).transform(scoped_cache)
    med = daily.agg(F.expr("percentile(rev, 0.5)").alias("m"))
    dev = daily.crossJoin(F.broadcast(med)).withColumn(
        "ad", F.abs(F.col("rev") - F.col("m"))
    ).transform(scoped_cache)
    mad = dev.agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    z = F.col("rev") - F.col("m")
    return (
        dev.crossJoin(F.broadcast(mad))
        .withColumn("robust_z", F.round(z / (1.4826 * F.col("mad")), 4))
        .filter(F.abs(F.col("robust_z")) > 2.5)
        .select("day", F.round("rev", 4).alias("rev"), "robust_z")
    )


_TIES_ORACLE = """
WITH r AS (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(RANK() OVER (PARTITION BY p_brand
                           ORDER BY round(p_retailprice, 2) DESC) AS BIGINT)
           AS price_rank,
         CAST(DENSE_RANK() OVER (PARTITION BY p_brand
                           ORDER BY round(p_retailprice, 2) DESC) AS BIGINT)
           AS dense_price_rank
  FROM part)
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS p_retailprice,
       price_rank, dense_price_rank
FROM r WHERE dense_price_rank <= 2
"""


@query("brand_price_ties_rank", _TIES_ORACLE)
def brand_price_ties_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK vs DENSE_RANK with ties INCLUDED (window_rank_parts uses
    row_number, which arbitrarily truncates ties): top-2 price LEVELS
    per brand keep every part at those levels, and the gap between
    rank and dense_rank exposes tie groups. Prices compared at 2
    decimals so tie groups are well-defined cross-engine."""
    p = _t(spark, sf_dir, "part")
    price2 = F.round("p_retailprice", 2)
    w = Window.partitionBy("p_brand").orderBy(price2.desc())
    return (
        p.select(
            "p_brand",
            "p_partkey",
            price2.alias("p_retailprice"),
            F.rank().over(w).cast("bigint").alias("price_rank"),
            F.dense_rank().over(w).cast("bigint").alias("dense_price_rank"),
        )
        .filter(F.col("dense_price_rank") <= 2)
    )


# ===================================================================
# Round-4 wave 15 — VARIANT JSON handling, null-safe join semantics,
# native session_window batch aggregation
# ===================================================================

_VARIANT_ORACLE = """
WITH j AS (
  SELECT event_id,
         '{"base":' || props || ',"meta":{"type":"' || event_type
         || '","depth":' || CAST(event_id % 5 AS VARCHAR)
         || '},"tags":["t' || CAST(event_id % 3 AS VARCHAR) || '","x"]}'
           AS doc
  FROM events)
SELECT event_id,
       CAST(json_extract(doc, '$.base.k') AS BIGINT) AS k,
       CAST(json_extract_string(doc, '$.meta.type') AS VARCHAR) AS meta_type,
       CAST(json_extract(doc, '$.meta.depth') AS BIGINT) AS depth,
       CAST(json_extract_string(doc, '$.tags[0]') AS VARCHAR) AS first_tag
FROM j
"""


@query("variant_json_extraction", _VARIANT_ORACLE)
def variant_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured handling through Spark 4's VARIANT type: nested
    JSON (synthesized in-query around the real props column) is parsed
    ONCE with parse_json into the binary variant encoding, then fields
    at different depths and an array element are extracted with typed
    variant_get paths — the shredded-access pattern that beats repeated
    get_json_object string re-parsing (one parse, many cheap typed
    reads). The oracle replays with DuckDB's JSON path functions."""
    e = _t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"base":'),
        F.col("props"),
        F.lit(',"meta":{"type":"'),
        F.col("event_type"),
        F.lit('","depth":'),
        (F.col("event_id") % 5).cast("string"),
        F.lit('},"tags":["t'),
        (F.col("event_id") % 3).cast("string"),
        F.lit('","x"]}'),
    )
    v = e.select("event_id", F.parse_json(doc).alias("v"))
    return v.select(
        "event_id",
        F.try_variant_get(F.col("v"), "$.base.k", "bigint").alias("k"),
        F.try_variant_get(F.col("v"), "$.meta.type", "string").alias("meta_type"),
        F.try_variant_get(F.col("v"), "$.meta.depth", "bigint").alias("depth"),
        F.try_variant_get(F.col("v"), "$.tags[0]", "string").alias("first_tag"),
    )


_NULLSAFE_ORACLE = """
WITH o AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders),
c AS (
  SELECT CASE WHEN c_custkey % 89 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer)
SELECT
  CAST((SELECT COUNT(*) FROM o JOIN c ON o.k = c.k) AS BIGINT)
    AS n_equality,
  CAST((SELECT COUNT(*) FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k)
       AS BIGINT) AS n_null_safe,
  CAST((SELECT COUNT(*) FROM o WHERE k IS NULL) AS BIGINT) AS null_orders,
  CAST((SELECT COUNT(*) FROM c WHERE k IS NULL) AS BIGINT) AS null_customers
"""


@query("null_safe_join_counts", _NULLSAFE_ORACLE)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL join-key semantics, the classic silent-data-loss pitfall:
    planted NULL keys on both sides, joined with plain equality (NULLs
    never match — rows vanish) vs eqNullSafe / IS NOT DISTINCT FROM
    (NULL matches NULL — the n_null_safe surplus is exactly
    null_orders x null_customers). Both joins remain hash joins —
    eqNullSafe is still an equi-predicate to Catalyst, NOT a
    nested-loop degradation. One summary row."""
    o = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("o_custkey"))
        .alias("k")
    ).transform(scoped_cache)
    c = _t(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 89 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("c_custkey"))
        .alias("k")
    ).transform(scoped_cache)
    oc, cc = o.alias("o"), c.alias("c")
    # fully lazy: the four counts are 1-row aggregates crossJoined into
    # ONE plan/driver action — the r11 shape ran four separate count()
    # jobs over the same cached frames (guide §1.2)
    cnt = lambda df, nm: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias(nm)
    )
    return (
        cnt(oc.join(cc, F.col("o.k") == F.col("c.k")), "n_equality")
        .crossJoin(
            cnt(oc.join(cc, F.col("o.k").eqNullSafe(F.col("c.k"))), "n_null_safe")
        )
        .crossJoin(cnt(o.filter(F.col("k").isNull()), "null_orders"))
        .crossJoin(cnt(c.filter(F.col("k").isNull()), "null_customers"))
    )


_SESSION_WINDOW_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS brk
  FROM e),
g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS seq
  FROM f)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM g GROUP BY user_id, seq
"""


@query("session_window_batch", _SESSION_WINDOW_ORACLE)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation run in batch mode — the
    same merging-session operator the streaming path uses, verified
    against the relational gaps-and-islands formulation (sessionization
    implements it manually; a green hash proves the two formulations
    agree on every session boundary). Session end is
    last-event + gap, per Spark's session_window contract."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


# ===================================================================
# Round-4 wave 16 — imputation repair, target encoding, sentence
# segmentation, 2D histogram binning
# ===================================================================

_IMPUTE_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 41 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer),
med AS (
  SELECT c_mktsegment, quantile_cont(bal, 0.5) AS seg_median
  FROM c WHERE bal IS NOT NULL GROUP BY c_mktsegment),
r AS (
  SELECT c.c_mktsegment,
         coalesce(c.bal, m.seg_median) AS filled,
         c.bal IS NULL AS was_imputed
  FROM c JOIN med m ON c.c_mktsegment = m.c_mktsegment)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE was_imputed) AS BIGINT) AS n_imputed,
       round(AVG(filled), 4) AS avg_bal,
       round(MIN(filled), 4) AS min_bal
FROM r GROUP BY c_mktsegment
"""


@query("imputed_acctbal_stats", _IMPUTE_ORACLE)
def imputed_acctbal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint repair by group-median imputation (the DQ-remediation
    step after quarantine flags nulls): NULLs planted on modular
    custkeys, each filled with its market segment's exact interpolated
    median of the surviving values. The medians are one per segment —
    broadcast join back; imputation itself is a stateless coalesce, so
    the repair pass costs one scan + one tiny aggregate at any scale."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 41 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    # grouped exact median on the histogram plan — percentile()'s
    # per-task value buffer over an unaggregated base table is the r8
    # sf10 OOM class (bit-identical interpolated values either way)
    med = windows.exact_percentiles(
        c.select("c_mktsegment", "bal"), "c_mktsegment", "bal",
        [0.5], ["seg_median"],
    )
    r = c.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment",
        F.coalesce("bal", "seg_median").alias("filled"),
        F.col("bal").isNull().alias("was_imputed"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_if("was_imputed").cast("bigint").alias("n_imputed"),
        F.round(F.avg("filled"), 4).alias("avg_bal"),
        F.round(F.min("filled"), 4).alias("min_bal"),
    )


_TARGET_ENC_ORACLE = """
WITH g AS (
  SELECT c_mktsegment AS seg,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS s
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1),
prior AS (SELECT SUM(s) / SUM(n) AS mu FROM g)
SELECT g.seg,
       CAST(g.n AS BIGINT) AS n_orders,
       round(g.s / g.n, 4) AS raw_mean,
       round((g.s + 20.0 * prior.mu) / (g.n + 20.0), 4) AS encoded
FROM g CROSS JOIN prior
"""


@query("target_encoded_segments", _TARGET_ENC_ORACLE)
def target_encoded_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (the feature-engineering workhorse for
    high-cardinality categoricals): per-segment mean order value shrunk
    toward the global prior with pseudo-count k=20 — rare categories
    collapse to the prior instead of memorizing noise. Everything runs
    on the per-CATEGORY aggregate; the prior is the sanctioned 1-row
    broadcast. Encodings are what a downstream model joins back
    broadcast-style onto the fact table."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    g = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("s"),
        )
    ).transform(scoped_cache)
    prior = g.agg((F.sum("s") / F.sum("n")).alias("mu"))
    return g.crossJoin(F.broadcast(prior)).select(
        "seg",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("s") / F.col("n"), 4).alias("raw_mean"),
        F.round(
            (F.col("s") + 20.0 * F.col("mu")) / (F.col("n") + 20.0), 4
        ).alias("encoded"),
    )


_SENTENCE_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_filter([trim(x) for x in
                      string_split_regex(text, '[.!?]+')],
                     x -> x <> '') AS sents
  FROM documents),
m AS (
  SELECT doc_id, len(sents) AS n_sentences,
         [len(list_filter(regexp_split_to_array(x, '\\s+'), t -> t <> ''))
          for x in sents] AS lens
  FROM s)
SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(coalesce(list_max(lens), 0) AS BIGINT) AS max_sentence_tokens,
       round(CAST(coalesce(list_sum(lens), 0) AS DOUBLE)
             / greatest(n_sentences, 1), 4) AS avg_sentence_tokens
FROM m
"""


@query("sentence_stats", _SENTENCE_ORACLE)
def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (the pre-chunking granularity for RAG
    and the basis of readability scores): regex split on terminal
    punctuation, per-document sentence count and token-length profile —
    all array expressions inside one projection, zero shuffle before
    the (row-per-doc) output."""
    d = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split("text", r"[.!?]+"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    lens = F.transform(
        F.col("__sents"), lambda x: F.size(TX.tokens(x))
    )
    return (
        d.select("doc_id", sents.alias("__sents"))
        .select(
            "doc_id",
            F.size("__sents").cast("bigint").alias("n_sentences"),
            lens.alias("__lens"),
        )
        .select(
            "doc_id",
            "n_sentences",
            F.coalesce(F.array_max("__lens"), F.lit(0))
            .cast("bigint")
            .alias("max_sentence_tokens"),
            F.round(
                F.coalesce(
                    F.aggregate(
                        "__lens", F.lit(0.0), lambda a, x: a + x.cast("double")
                    ),
                    F.lit(0.0),
                )
                / F.greatest(F.col("n_sentences"), F.lit(1)),
                4,
            ).alias("avg_sentence_tokens"),
        )
    )


_HEATMAP_ORACLE = """
SELECT CAST(least(floor(l_quantity / 10), 4) AS BIGINT) AS qty_bin,
       CAST(least(floor(l_extendedprice / 20000), 4) AS BIGINT) AS price_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS price_total
FROM lineitem
GROUP BY 1, 2
"""


@query("price_qty_heatmap", _HEATMAP_ORACLE)
def price_qty_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D equi-width binning (the heatmap/contingency grid behind every
    density plot): quantity x price bins with top bins clamped, one
    groupBy over at most 25 cells — the map-side partial aggregation
    collapses the fact table to the grid before any shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.least(F.floor(F.col("l_quantity") / 10), F.lit(4))
            .cast("bigint")
            .alias("qty_bin"),
            F.least(F.floor(F.col("l_extendedprice") / 20000), F.lit(4))
            .cast("bigint")
            .alias("price_bin"),
            "l_extendedprice",
        )
        .groupBy("qty_bin", "price_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            exact_sum("l_extendedprice").alias("price_total"),
        )
    )


