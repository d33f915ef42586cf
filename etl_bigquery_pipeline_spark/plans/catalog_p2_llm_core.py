"""Tier 2 LLM-pipeline core (dedup/similarity/text/events) + Tier 1.6 — split from plans/catalog.py (r11).

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
    _MINHASH_ORACLE,
    _ann_panel,
    _cosine_sql,
    _planted_corpus,
    _simhash_sql,
    _t,
    dedup,
    dq,
    exact_sum,
    query,
    sessionize,
    similarity,
    widen_if_narrow,
    windows,
)

# ===================================================================
# Tier 2 — LLM training-data pipeline operators (north star)
# ===================================================================

# ---- exact dedup over documents (planted duplicates) ----

_DEDUP_EXACT_ORACLE = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25)
SELECT MIN(doc_id) AS doc_id
FROM docs
GROUP BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))
"""


@query("dedup_exact_documents", _DEDUP_EXACT_ORACLE)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (whitespace-insensitive) dedup: plant 25 duplicate docs with
    shifted ids, dedup by content hash keeping the lowest id. Output is the
    surviving ids — exactly the original corpus. Shuffle key = 32-char md5."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionAll(planted)
    return dedup.dedup_exact_text(corpus, "doc_id", "text").select("doc_id")


# ---- MinHash + LSH near-dup (planted near-duplicates) ----

@query("minhash_near_dup_pairs", _MINHASH_ORACLE)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup pairs, exact-Jaccard verified at
    >=0.6, over the corpus plus 25 planted near-duplicates (same text with
    a 2-token suffix). The oracle replays the identical md5-based pipeline
    in SQL — signatures match hash-for-hash."""
    corpus = _planted_corpus(spark, sf_dir)
    return dedup.minhash_near_dup_pairs(
        corpus, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3, threshold=0.6,
        # exact-recall parity with the SQL replay: no hot-bucket cap here.
        # Production callers keep the default (1000) — documented opt-out.
        max_band_bucket=None,
    )


# ---- blocked exact n-gram Jaccard ----

_NGRAM_ORACLE = """
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
         round(len(list_intersect(a.s, b.s)) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard_sim
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 100)
SELECT id_a, id_b, jaccard_sim FROM pairs WHERE jaccard_sim >= 0.2
"""


@query("ngram_jaccard_pairs", _NGRAM_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over id-distance-blocked pairs — the
    verification/oracle path for LSH (all-pairs is deliberately not
    offered; see operators.dedup)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, threshold=0.2, block_width=100
    )


# ---- SimHash fingerprints ----


def _simhash_oracle(nibbles: int = 15) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
h AS (
  SELECT doc_id, [substring(md5(x), 1, {nibbles}) for x in toks] AS th,
         len(toks) AS nt
  FROM t)
SELECT doc_id, {_simhash_sql(nibbles)} AS simhash FROM h
"""


@query("simhash_fingerprints", _simhash_oracle())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document as a 15-nibble hex string; md5 bit-table
    formulation is engine-reproducible (oracle generated from the same
    loop). JVM higher-order functions only — no data-sized shuffle, no
    UDF. Widened before the projection: the per-doc cost is 60 bit
    tests x tokens, and the sf10 documents file is a near-single-row-
    group scan that would serialize that compute into one task (the r11
    sweep measured the unwidened form as the 720s straggler — the same
    hazard class as the embeddings panel scans, SCALE.md r10)."""
    d = widen_if_narrow(_t(spark, sf_dir, "documents"), "doc_id")
    return dedup.with_simhash(d, "text", nibbles=15).select("doc_id", "simhash")


# ---- similarity search: brute-force cosine top-k ----

_TOPK_SIM_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 50 = 0 AND vec_id < {_ANN_PANEL_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, {_cosine_sql("qv", "cv")} AS sim
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
r AS (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
  FROM s)
SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
"""


@query("similarity_topk", _TOPK_SIM_ORACLE)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 over the fixed query panel: broadcast
    queries x one corpus scan, JVM-side double accumulation, window rank
    over (rounded sim desc, id asc)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = _ann_panel(emb, 50)
    out = similarity.cosine_topk(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    )
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rnk")
    )


# ---- embedding near-dup via hyperplane LSH (planted dups) ----


# DuckDB-side dot products are emitted UNROLLED (64 literal multiply-adds,
# left-associative — the same sequential double accumulation as list_sum
# over the comprehension form and as Spark's F.aggregate fold, so values
# are bit-identical) instead of as list comprehensions: a `[expr for i in
# generate_series(1, 64)]` inside list_sum costs per-element list_extract
# bounces that measured ~150x slower at the sf10 panel build (the r11
# emb_pairs materializer sat 25 minutes in the comprehension form; the
# unrolled form finishes in seconds).


def _unrolled_weight_dot_sql(vec: str, weights: list[float]) -> str:
    return "(" + " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * ({w!r})"
        for i, w in enumerate(weights)
    ) + ")"


def _unrolled_pair_dot_sql(a: str, b: str, dim: int) -> str:
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def _lsh_bucket_sql(vec: str, *, bits: int = 4, seed: int = 42) -> str:
    from etl_bigquery_pipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_DIM, bits=bits, seed=seed)
    out = []
    for plane in planes:
        dot = _unrolled_weight_dot_sql(vec, plane)
        out.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(out)


# Banded hyperplane LSH parameters shared by the Spark query, the sf0.01
# oracle below, and the sf10 materialized-panel override
# (scripts/oracle_overrides.py) — keep all three in lockstep.
_EMB_ND_BANDS = 4
_EMB_ND_BAND_BITS = 12
_EMB_ND_THRESHOLD = 0.99


def _emb_near_dup_oracle_sql() -> str:
    """Banded near-dup oracle: per-band equi-joins UNION'd (dedup), then
    one exact rounded cosine per candidate. The per-coordinate prefilter
    uses the slacked conservative bound (similarity.near_dup_cbound), so
    it cannot drop a pair the rounded-cosine filter would keep — it only
    thins the candidate set DuckDB has to score."""
    from etl_bigquery_pipeline_spark.operators.similarity import near_dup_cbound

    cb = near_dup_cbound(_EMB_ND_THRESHOLD)
    band_cols = ",\n        ".join(
        f"{_lsh_bucket_sql('embedding', bits=_EMB_ND_BAND_BITS, seed=42 + i)} AS b{i}"
        for i in range(_EMB_ND_BANDS)
    )
    nrm = f"sqrt({_unrolled_pair_dot_sql('embedding', 'embedding', _DIM)})"
    arms = "\n  UNION\n".join(
        f"""  SELECT l.vec_id AS id_a, r.vec_id AS id_b
  FROM b l JOIN b r ON l.b{i} = r.b{i} AND l.vec_id < r.vec_id
    AND abs(l.nv1 - r.nv1) <= {cb!r} AND abs(l.nv2 - r.nv2) <= {cb!r}"""
        for i in range(_EMB_ND_BANDS)
    )
    pair_dot = _unrolled_pair_dot_sql("va.embedding", "vb.embedding", _DIM)
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_concat([CAST(embedding[1] + 0.01 AS FLOAT)], embedding[2:{_DIM}])
  FROM embeddings WHERE vec_id < 10),
b AS (SELECT vec_id, embedding,
        {band_cols},
        {nrm} AS nrm,
        CAST(embedding[1] AS DOUBLE) / nrm AS nv1,
        CAST(embedding[2] AS DOUBLE) / nrm AS nv2
      FROM vecs),
cand AS (
{arms}),
p AS (
  SELECT c.id_a, c.id_b,
         round({pair_dot} / (va.nrm * vb.nrm), 6) AS cosine_sim
  FROM cand c
  JOIN b va ON va.vec_id = c.id_a
  JOIN b vb ON vb.vec_id = c.id_b)
SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= {_EMB_ND_THRESHOLD}
"""


_EMB_NEAR_DUP_ORACLE = _emb_near_dup_oracle_sql()


@query("embedding_near_dup_pairs", _EMB_NEAR_DUP_ORACLE)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via BANDED random-hyperplane LSH self-join
    (4 independent 12-bit codes, union of band collisions, exact-dot
    verify), over the corpus plus 10 planted near-identical vectors
    (first component +0.01). Seeded hyperplanes are shipped to the
    oracle as literals, so banding matches bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mutated = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array((F.col("embedding").getItem(0) + F.lit(0.01)).cast("float")),
            F.slice("embedding", 2, _DIM - 1),
        ).alias("embedding"),
    )
    corpus = emb.unionAll(mutated)
    return similarity.embedding_near_dup_pairs(
        corpus, id_col="vec_id", vec_col="embedding",
        threshold=_EMB_ND_THRESHOLD, dim=_DIM,
        bands=_EMB_ND_BANDS, band_bits=_EMB_ND_BAND_BITS, seed=42,
    )


# ---- text analysis ----

_TOKEN_STATS_ORACLE = r"""
WITH t AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
         length(text) AS n_chars
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_tok), 4) AS avg_tokens,
       ROUND(AVG(n_bpe), 4) AS avg_bpe_tokens,
       ROUND(AVG(n_chars), 4) AS avg_chars
FROM t GROUP BY lang
"""


@query("token_stats_by_lang", _TOKEN_STATS_ORACLE)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) rolled up per language."""
    d = _t(spark, sf_dir, "documents")
    stats = d.select(
        "lang",
        TX.token_count("text").alias("n_tok"),
        TX.word_token_count("text").alias("n_bpe"),
        F.length("text").alias("n_chars"),
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.avg("n_bpe"), 4).alias("avg_bpe_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


_QUALITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 0.4 ELSE 0.0 END AS len_ok,
         least(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], lower(x))))
               / greatest(len(toks), 1) * 4.0, 1.0) * 0.4 AS sw,
         least((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
               / greatest(length(text), 1) * 2.0, 0.2) AS pp
  FROM t)
SELECT doc_id, round(len_ok + sw + 0.2 - pp, 4) AS quality FROM s
"""


@query("quality_scores", _QUALITY_ORACLE)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document (length band + stopword ratio
    - punctuation noise), fully SQL-expressible so the oracle replays the
    identical arithmetic."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score("text", "en").alias("quality"))


_FINGERPRINT_ORACLE = r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))), ' ')) AS fp
FROM documents
"""


@query("doc_fingerprints", _FINGERPRINT_ORACLE)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant bag-of-words fingerprint (md5 of sorted distinct
    lowercase tokens)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fp"))


# ---- events: JSON column ops ----

_JSON_ORACLE = """
WITH e AS (
  SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       ROUND(AVG(k), 4) AS k_avg,
       COUNT(*) FILTER (WHERE k IS NULL) AS k_nulls
FROM e GROUP BY event_type
"""


@query("json_extract_events", _JSON_ORACLE)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column extraction (props is a JSON string column) with
    coerce-to-null numeric cast, aggregated per event type."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.round(F.avg("k"), 4).alias("k_avg"),
            F.count_if(F.col("k").isNull()).alias("k_nulls"),
        )
    )


# ---- events: tumbling / sliding windows ----

_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
       MIN(value) AS value_min, MAX(value) AS value_max
FROM events GROUP BY 1, 2
"""


@query("events_tumbling_hourly", _TUMBLING_ORACLE)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window x event_type (batch form; streaming twin in
    streaming/events.py)."""
    e = _t(spark, sf_dir, "events")
    return windows.tumbling_agg(e, ts_col="ts", unit="hour")


_SLIDING_ORACLE = """
WITH w AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM events)
SELECT window_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM w GROUP BY 1, 2
"""


@query("events_sliding_1h_30m", _SLIDING_ORACLE)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window / 30m slide): every event lands in 2
    windows; oracle models the same via a 2-way offset union."""
    e = _t(spark, sf_dir, "events")
    return windows.sliding_agg(
        e, ts_col="ts", window="1 hour", slide="30 minutes"
    )


# ---- events: sessionization ----

_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS brk
  FROM e),
g AS (
  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM f)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM g GROUP BY user_id, session_seq
"""


@query("sessionization", _SESSION_ORACLE)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) + per-session
    rollup — the oracle-checked batch twin of the streaming session_window."""
    e = _t(spark, sf_dir, "events")
    return sessionize.session_stats(
        e, user_col="user_id", ts_col="ts", gap_minutes=30,
        value_col="value", order_cols=("event_id",),
    )


# ---- DQ report as a query ----

_DQ_REPORT_ORACLE = """
SELECT 'row_count' AS check_name, 'lineitem' AS tbl,
       CASE WHEN (SELECT COUNT(*) FROM lineitem) >= 1 THEN 'PASS' ELSE 'FAIL' END AS status,
       'critical' AS severity
UNION ALL
SELECT 'null_check', 'lineitem',
       CASE WHEN (SELECT COUNT(*) FILTER (WHERE l_orderkey IS NULL OR l_quantity IS NULL
                  OR l_extendedprice IS NULL) FROM lineitem) = 0 THEN 'PASS' ELSE 'FAIL' END,
       'critical'
UNION ALL
SELECT 'range_l_quantity', 'lineitem',
       CASE WHEN (SELECT MIN(l_quantity) >= 0 FROM lineitem) THEN 'PASS' ELSE 'FAIL' END,
       'critical'
UNION ALL
SELECT 'range_l_discount', 'lineitem',
       CASE WHEN (SELECT MIN(l_discount) >= 0 AND MAX(l_discount) <= 1 FROM lineitem)
            THEN 'PASS' ELSE 'FAIL' END,
       'critical'
UNION ALL
SELECT 'dup_l_orderkey_l_linenumber', 'lineitem',
       CASE WHEN (SELECT COUNT(*) FROM (SELECT 1 AS x FROM lineitem
                  GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)) = 0
            THEN 'PASS' ELSE 'FAIL' END,
       'warning'
UNION ALL
SELECT 'ref_integrity_l_partkey', 'lineitem',
       CASE WHEN (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
                  ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL) = 0
            THEN 'PASS' ELSE 'FAIL' END,
       'warning'
"""


@query("dq_report_lineitem", _DQ_REPORT_ORACLE)
def dq_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DQ framework (B1-B6) run against lineitem: scalar checks
    fused into one scan, dup-key probe, broadcast-anti-join FK check —
    emitted as the reference's validation report
    (/root/reference/dags/etl_pipeline.py:453-469)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    results = dq.TableChecks(
        table="lineitem",
        df=li,
        scalar=[
            dq.row_count_check(),
            dq.null_check(["l_orderkey", "l_quantity", "l_extendedprice"]),
            dq.range_check("l_quantity", min_allowed=0),
            dq.range_check("l_discount", min_allowed=0, max_allowed=1),
        ],
        duplicate_keys=[["l_orderkey", "l_linenumber"]],
    ).run()
    results.append(
        dq.referential_integrity_check(
            li,
            part.select(F.col("p_partkey").alias("l_partkey")),
            "l_partkey",
            fact_name="lineitem",
        )
    )
    return dq.report_df(spark, results).select(
        F.col("check").alias("check_name"),
        F.col("table").alias("tbl"),
        "status",
        "severity",
    )


# ===================================================================
# Tier 1.6 — further relational breadth (set ops, cube, windows,
# pivot/unpivot, semi joins, scalar subqueries)
# ===================================================================

_INTERSECT_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM ((SELECT DISTINCT c_nationkey FROM customer)
                         INTERSECT
                         (SELECT DISTINCT s_nationkey FROM supplier))) AS nations_both,
  (SELECT COUNT(*) FROM ((SELECT DISTINCT c_nationkey FROM customer)
                         UNION
                         (SELECT DISTINCT s_nationkey FROM supplier))) AS nations_either
"""


@query("set_intersect_union_nations", _INTERSECT_ORACLE)
def set_intersect_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT / UNION (distinct) over nation keys."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    )
    both = c.intersect(s).agg(F.count(F.lit(1)).alias("nations_both"))
    either = c.union(s).distinct().agg(
        F.count(F.lit(1)).alias("nations_either")
    )
    return both.crossJoin(either)


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("cube_orders", _CUBE_ORACLE)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: all 4 grouping-set combinations in one pass."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice").alias("total"),
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("grouping_sets_orders", _GROUPING_SETS_SQL)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (identical SQL runs on both engines)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


_SEMI_ORACLE = """
SELECT COUNT(*) AS n_customers_with_orders
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


@query("semi_join_customers", _SEMI_ORACLE)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS/IN): the complement of the orphan anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.join(o, "c_custkey", "left_semi").agg(
        F.count(F.lit(1)).alias("n_customers_with_orders")
    )


_SCALAR_SUBQ_ORACLE = """
SELECT COUNT(*) AS n_above_avg
FROM orders WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
"""


@query("scalar_subquery_filter", _SCALAR_SUBQ_ORACLE)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate: orders above the mean price."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCALAR_SUBQ_ORACLE)


_LAG_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice)  OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_lag_running_orders", _LAG_ORACLE)
def window_lag_running_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + running (exact decimal) sum per customer order history."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_total"),
    )


_PIVOT_ORACLE = """
SELECT user_id % 10 AS user_bucket,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error
FROM events GROUP BY 1
"""


@query("pivot_event_counts", _PIVOT_ORACLE)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: event-type counts per user bucket (explicit value list keeps
    the plan one-pass; Spark otherwise scans once to discover values)."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null for empty cells; the oracle FILTER yields 0
    return out.na.fill(0, ["click", "view", "purchase", "signup", "error"])


_UNPIVOT_ORACLE = """
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
"""


@query("unpivot_part_measures", _UNPIVOT_ORACLE)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measures to long (id, measure, val) form."""
    p = _t(spark, sf_dir, "part").withColumn(
        "p_size_d", F.col("p_size").cast("double")
    )
    out = p.unpivot(
        ["p_partkey"],
        ["p_size_d", "p_retailprice"],
        "measure",
        "val",
    )
    return out.withColumn(
        "measure",
        F.when(F.col("measure") == "p_size_d", F.lit("p_size")).otherwise(
            F.col("measure")
        ),
    )


# ---- as-of (point-in-time) join & range join over events ----

_ASOF_ORACLE = """
WITH se AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN ts END AS sig_ts
  FROM events WHERE event_type IN ('signup', 'error')),
w AS (
  SELECT *, MAX(sig_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS last_signup_ts
  FROM se)
SELECT event_id, user_id, ts, last_signup_ts
FROM w WHERE event_type = 'error'
"""


@query("asof_join_error_signup", _ASOF_ORACLE)
def asof_join_error_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for each error event, the most
    recent signup of the same user at-or-before it. Union-the-streams +
    running MAX over (ts, id) — one shuffle on user_id, linear scan; the
    scalable point-in-time-join formulation (no per-row range probe)."""
    e = _t(spark, sf_dir, "events")
    se = e.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("sig_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        se.withColumn("last_signup_ts", F.max("sig_ts").over(w))
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts", "last_signup_ts")
    )


_RANGE_JOIN_ORACLE = """
WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup')
SELECT s.event_id, s.user_id,
       COUNT(e.event_id) AS n_following_events
FROM s LEFT JOIN events e
  ON e.user_id = s.user_id
 AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL '1 hour'
GROUP BY s.event_id, s.user_id
"""


@query("range_join_signup_followups", _RANGE_JOIN_ORACLE)
def range_join_signup_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events within 1h after each signup, per user.
    Planned as an equi hash join on user_id with the time band as residual
    filter — never a nested-loop over time."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("s_event_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("s_ts"),
        )
        .alias("s")
    )
    r = e.select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    ).alias("r")
    joined = s.join(
        r,
        (F.col("r.r_user_id") == F.col("s.s_user_id"))
        & (F.col("r.r_ts") > F.col("s.s_ts"))
        & (F.col("r.r_ts") <= F.col("s.s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return (
        joined.groupBy("s_event_id", "s_user_id")
        .agg(F.count(F.col("r.r_event_id")).alias("n_following_events"))
        .select(
            F.col("s_event_id").alias("event_id"),
            F.col("s_user_id").alias("user_id"),
            "n_following_events",
        )
    )


# ---- scalar-function breadth (string / date / math) ----

_STRING_FN_ORACLE = """
SELECT p_partkey,
       upper(p_name)                         AS up,
       lower(p_brand)                        AS lo,
       substring(p_name, 1, 5)               AS sub5,
       replace(p_name, ' ', '_')             AS underscored,
       lpad(p_brand, 12, '*')                AS padded,
       CAST(length(p_name) AS BIGINT)        AS name_len,
       reverse(p_type)                       AS rev,
       concat_ws('/', p_brand, p_type)       AS joined,
       CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
       split_part(p_type, ' ', 1)            AS first_word
FROM part
"""


@query("string_functions_part", _STRING_FN_ORACLE)
def string_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function surface (P2/P3 family + the common library)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("underscored"),
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.reverse("p_type").alias("rev"),
        F.concat_ws("/", "p_brand", "p_type").alias("joined"),
        F.when(F.col("p_name").like("%a%"), F.lit(1)).otherwise(F.lit(0)).alias("has_a"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("first_word"),
    )


_DATE_FN_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT)    AS yr,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(month(o_orderdate) AS BIGINT)   AS mo,
       CAST(day(o_orderdate) AS BIGINT)     AS dom,
       CAST(o_orderdate + INTERVAL '30 days' AS DATE) AS plus30,
       last_day(CAST(o_orderdate AS DATE))  AS month_end,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98
FROM orders
"""


@query("date_functions_orders", _DATE_FN_ORACLE)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar-function surface (P5 family + arithmetic)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(
            F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("bigint").alias("days_to_98"),
    )


_MATH_FN_ORACLE = """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 50000.0)         AS dev,
       CAST(ceil(l_quantity) AS BIGINT)       AS qty_ceil,
       CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct,
       round(sqrt(l_extendedprice), 6)        AS price_sqrt,
       round(ln(l_extendedprice), 6)          AS price_ln,
       round(pow(l_discount, 2), 6)           AS disc_sq,
       CAST(sign(l_extendedprice - 50000.0) AS BIGINT) AS above_mid,
       CAST(l_orderkey % 7 AS BIGINT)         AS key_mod
FROM lineitem
"""


@query("math_functions_lineitem", _MATH_FN_ORACLE)
def math_functions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar-function surface; transcendentals rounded to 6 (libm vs
    JVM may differ in the last ulp)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000.0).alias("dev"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.pow(F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.signum(F.col("l_extendedprice") - 50000.0).cast("bigint").alias("above_mid"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod"),
    )


# ---- language-ID heuristic as a query (confusion matrix) ----


def _lang_guess_oracle() -> str:
    from etl_bigquery_pipeline_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score_cols = []
    for lang in langs:
        markers = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains([{markers}], x))) AS s_{lang}"
        )
    # replicate the Spark-side sequential fold: start with the first
    # language, replace only on strictly-greater score
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
  SELECT lang,
         list_transform(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> ''), x -> lower(x)) AS toks
  FROM documents),
s AS (SELECT lang, {", ".join(score_cols)} FROM t)
SELECT lang, {guess_expr} AS lang_guess, COUNT(*) AS n_docs
FROM s GROUP BY 1, 2
"""


@query("lang_id_confusion", _lang_guess_oracle())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-marker argmax) vs the labeled lang —
    a confusion matrix. The oracle replays the identical sequential fold,
    so ties resolve identically."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", TX.lang_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


