"""Round 5-6 waves 46-48: semantic decontamination, BM25, DOULION — split from plans/catalog.py (r11).

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
    _ann_panel,
    _cosine_sql,
    _hex8_to_int_sql,
    _t,
    query,
    scoped_cache,
    widen_if_narrow,
)
from pyspark.sql import Column

# ===================================================================
# Registration order for the driver's correctness sweep
# ===================================================================
# The driver's per-round sweep walks ``queries()`` in registration order
# and records a bounded prefix of it.  The 50 names below were recorded
# green in rounds 1-2 (CORRECTNESS_r01/r02); they are stable and
# deterministic, so they yield the front of the queue to queries that do
# not yet have a driver row.  This is pure ordering — no query is added,
# removed, or altered here.
# ===================================================================
# Round-5 wave 46 — semantic decontamination (embedding-space eval-set
# leakage), temperature-smoothed mixture rates
# ===================================================================

_SEMDECON_ORACLE = f"""
WITH e AS (SELECT vec_id AS eval_id, embedding AS ev
           FROM embeddings
           WHERE vec_id % 50 = 0 AND vec_id < {_ANN_PANEL_MAX_ID}),
planted AS (SELECT vec_id + 1000003 AS vec_id, embedding
            FROM embeddings
            WHERE vec_id % 100 = 0 AND vec_id < {_ANN_PANEL_MAX_ID}),
c AS (SELECT vec_id, embedding AS cv FROM
        (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id % 50 <> 0 OR vec_id >= {_ANN_PANEL_MAX_ID}
         UNION ALL SELECT * FROM planted)),
m AS (
  SELECT c.vec_id, max({_cosine_sql("cv", "ev")}) AS max_eval_sim
  FROM c CROSS JOIN e GROUP BY c.vec_id)
SELECT vec_id, max_eval_sim
FROM m WHERE max_eval_sim >= 0.9
"""


def _semdecon_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus, evals) for the decontamination pair: eval set = every
    50th vector; contamination planted by leaking every 100th eval
    vector back into the corpus under a shifted id (the corpus has no
    natural near-dups), same planting discipline as the dedup family."""
    emb = _t(spark, sf_dir, "embeddings")
    evals = _ann_panel(emb, 50).select("vec_id", "embedding")
    planted = _ann_panel(emb, 100).select(
        (F.col("vec_id") + 1000003).alias("vec_id"), "embedding"
    )
    # corpus = exact complement of the eval panel (plus the planted
    # leaks): the panel cap keeps the eval side a bounded broadcast at
    # any corpus scale — the operator's documented contract
    corpus = (
        emb.filter(
            (F.col("vec_id") % 50 != 0)
            | (F.col("vec_id") >= _ANN_PANEL_MAX_ID)
        )
        .select("vec_id", "embedding")
        .unionByName(planted)
    )
    return corpus, evals


@query("semantic_decontamination", _SEMDECON_ORACLE)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (the semantic companion
    to the n-gram `decontamination` query: paraphrased eval leakage that
    shares no 13-gram still sits next to its source in embedding space):
    flag corpus vectors whose max cosine vs ANY eval vector >= 0.9.
    Inputs per _semdecon_inputs; the operator is
    operators/similarity.semantic_decontaminate (exact path — eval set
    broadcast, corpus scanned once, per-corpus-row max folded map-side;
    the corpus never shuffles, the same economics as `decontamination`'s
    broadcast eval-grams). The LSH-prefiltered and persisted-index
    variants of the same operator are gated by
    semantic_decon_prefilter_gate."""
    from etl_bigquery_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus, evals = _semdecon_inputs(spark, sf_dir)
    return semantic_decontaminate(corpus, evals, threshold=0.9)


@query(
    "semantic_decon_prefilter_gate",
    "SELECT true AS subset_ok, true AS recall_ok",
)
def semantic_decon_prefilter_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality gate for the approximate decontamination paths (same
    discipline as lsh_recall_vs_exact): the LSH-prefiltered flag set
    must be a SUBSET of the exact flags (structural — the prefilter
    only drops candidates before the exact cosine threshold, so any
    extra flag is a bug, not noise) and must recover >= 0.8 of them
    (4-bit hyperplanes + 1-flip multi-probe keep ~0.9 of true
    cosine>=0.9 pairs in expectation; planted leaks are exact
    duplicates, which always share a bucket). Emits one boolean row so
    the oracle is trivial while both bounds are computed in Spark."""
    from etl_bigquery_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus, evals = _semdecon_inputs(spark, sf_dir)
    exact = semantic_decontaminate(corpus, evals, threshold=0.9)
    approx = semantic_decontaminate(
        corpus, evals, threshold=0.9, prefilter="lsh", bits=4, max_flips=1
    )
    joined = (
        exact.select(F.col("vec_id"), F.lit(1).alias("__e"))
        .join(
            approx.select(F.col("vec_id"), F.lit(1).alias("__a")),
            "vec_id",
            "full_outer",
        )
    )
    return joined.agg(
        (F.sum(F.when(F.col("__e").isNull(), 1).otherwise(0)) == 0).alias(
            "subset_ok"
        ),
        (
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("__e").isNotNull() & F.col("__a").isNotNull(),
                        1,
                    ).otherwise(0)
                ),
                F.sum(F.when(F.col("__e").isNotNull(), 1).otherwise(0)),
            )
            >= 0.8
        ).alias("recall_ok"),
    )


_TEMPMIX_ORACLE = """
WITH s AS (
  SELECT source,
         SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> ''))) AS tok
  FROM documents GROUP BY source),
t AS (SELECT SUM(tok) AS total, SUM(pow(tok, 0.5)) AS zsum FROM s)
SELECT source, CAST(tok AS BIGINT) AS tokens,
       round(tok / total, 6) AS share,
       round(pow(tok, 0.5) / zsum, 6) AS temp_weight,
       round((pow(tok, 0.5) / zsum) / (tok / total), 6) AS sample_rate
FROM s CROSS JOIN t
"""


@query("temperature_mixture_rates", _TEMPMIX_ORACLE)
def temperature_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixing (the multilingual/multi-corpus
    sampling rule: weight source s by share^(1/T), T=2 — big sources
    down-weighted, small ones boosted, the standard alternative to the
    capacity-capped `mixture_waterfill_rates`). sample_rate is the
    relative up/down-sampling each source needs to hit its temperature
    weight. One token-count scan; everything after runs on the
    per-SOURCE aggregate with the normalizer as a 1-row broadcast."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(TX.token_count("text")).cast("double").alias("tok")
    )
    t = s.agg(
        F.sum("tok").alias("__total"),
        F.sum(F.pow("tok", 0.5)).alias("__zsum"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        F.col("tok").cast("bigint").alias("tokens"),
        F.round(F.col("tok") / F.col("__total"), 6).alias("share"),
        F.round(F.pow("tok", 0.5) / F.col("__zsum"), 6).alias("temp_weight"),
        F.round(
            (F.pow("tok", 0.5) / F.col("__zsum"))
            / (F.col("tok") / F.col("__total")),
            6,
        ).alias("sample_rate"),
    )


# ===================================================================
# Round-6 wave 48 — BM25 retrieval scoring, Heaps-law vocab growth
# ===================================================================

_BM25_TERMS = ("merge", "vector", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN ('merge', 'vector', 'window')
  GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({_BM25_K1} + 1)
              / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, n_terms, round(score, 6) AS bm25
FROM scored
ORDER BY round(score, 6) DESC, doc_id
LIMIT 20
"""


@query("bm25_top_docs", _BM25_ORACLE)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed 3-term query (the retrieval
    scoring dual of `tfidf_keywords`: tf saturation via k1, length
    normalization via b — what a training-pipeline's quality-by-query
    retrieval probe actually ranks with). Shape: the explode is filtered
    to the query terms BEFORE the groupBy, so the shuffle carries only
    matching (doc, term) pairs; df is a |query-terms|-row broadcast; N
    and avgdl ride one 1-row broadcast aggregate; the final top-20 is an
    ordered limit (TakeOrdered — no global sort). Ordering ties break on
    the ROUNDED score then doc_id so both engines pick the same 20."""
    k1, b = _BM25_K1, _BM25_B
    d = _t(spark, sf_dir, "documents")
    toks = widen_if_narrow(d, "doc_id").select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("t")
    )
    dl = toks.select(
        "doc_id", F.size("t").cast("double").alias("dl"), "t"
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        F.avg("dl").alias("__avgdl"),
    )
    # tf is consumed twice (scoring + df counts); without the cache the
    # second consumer would re-run the tokenize+explode corpus scan —
    # the dominant cost at scale. Post-filter, tf is bounded by
    # |matching docs| x |query terms|, so the cache is small.
    tf = scoped_cache(
        dl.select("doc_id", "dl", F.explode("t").alias("term"))
        .filter(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum(contrib).alias("score"),
        )
    )
    return (
        scored.select(
            "doc_id", "n_terms", F.round("score", 6).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


_HEAPS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents),
m AS (SELECT MAX(doc_id) AS mx FROM documents),
grams AS (
  SELECT doc_id, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(t) - 1, 1))]) AS g
  FROM toks),
own AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
nb AS (
  SELECT LEAST(CAST(FLOOR(first_doc * 10.0 / (mx + 1)) AS BIGINT), 9) AS bucket,
         COUNT(*) AS new_grams
  FROM own CROSS JOIN m
  GROUP BY 1),
tb AS (
  SELECT LEAST(CAST(FLOOR(doc_id * 10.0 / (mx + 1)) AS BIGINT), 9) AS bucket,
         SUM(len(t)) AS toks
  FROM toks CROSS JOIN m
  GROUP BY 1)
SELECT tb.bucket,
       CAST(SUM(tb.toks) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(nb.new_grams, 0)) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_vocab,
       CAST(COALESCE(nb.new_grams, 0) AS BIGINT) AS new_grams
FROM tb LEFT JOIN nb ON tb.bucket = nb.bucket
ORDER BY tb.bucket
"""


@query("heaps_law_vocab_growth", _HEAPS_ORACLE)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct vocabulary
    (unigrams + bigrams) vs cumulative tokens across ten equal-width
    doc_id buckets — the corpus-profiling curve that tells you whether
    more data still buys new content or the crawl has saturated.

    Scale shape: a gram's first appearance is just min(doc_id) inside
    the gram aggregate (the aggregate-side owner-derivation lens from
    `ngram_novelty_scores` — no join-back, no ordered scan), so the only
    data-proportional shuffle carries (gram, doc_id). Everything after
    is 10 bucket rows; the running sums are a bare window over that
    fixed-width frame (whitelisted)."""
    d = _t(spark, sf_dir, "documents")
    toks = widen_if_narrow(d, "doc_id").select(
        "doc_id", TX.tokens(F.col("text")).alias("t")
    )
    mx = d.agg(F.max("doc_id").alias("__mx"))

    def bucket(id_col: Column) -> Column:
        return F.least(
            F.floor(id_col * 10.0 / (F.col("__mx") + 1)).cast("bigint"),
            F.lit(9).cast("bigint"),
        )

    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(F.col("t"), TX.ngrams_of(F.col("t"), 2))
        ).alias("g"),
    )
    owners = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    new_per_bucket = (
        owners.crossJoin(F.broadcast(mx))
        .groupBy(bucket(F.col("first_doc")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_grams"))
    )
    toks_per_bucket = (
        toks.select("doc_id", F.size("t").alias("n_tok"))
        .crossJoin(F.broadcast(mx))
        .groupBy(bucket(F.col("doc_id")).alias("bucket"))
        .agg(F.sum("n_tok").alias("toks"))
    )
    joined = toks_per_bucket.join(
        F.broadcast(new_per_bucket), "bucket", "left"
    ).select(
        "bucket",
        "toks",
        F.coalesce("new_grams", F.lit(0)).alias("new_grams"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "bucket",
        F.sum("toks").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("new_grams").over(w).cast("bigint").alias("cum_vocab"),
        F.col("new_grams").cast("bigint").alias("new_grams"),
    ).orderBy("bucket")


_DSIR_BUCKETS = 4096
_DSIR_CTE = f"""
toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, source,
         unnest([array_to_string(t[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(t) - 1, 1))]) AS g
  FROM toks),
hb0 AS (
  SELECT doc_id, source, substring(md5('dsir:' || g), 1, 8) AS h
  FROM grams),
hb AS (
  SELECT doc_id, source, ({{HEX}}) % {_DSIR_BUCKETS} AS b FROM hb0),
agg AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN CAST(substring(source, 4, 10) AS INT) % 4 = 0
                  THEN 1 ELSE 0 END) AS ct
  FROM hb GROUP BY b),
tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM agg),
sc AS (
  SELECT b, ln((ct + 1) / CAST(t.nt + {_DSIR_BUCKETS} AS DOUBLE))
           - ln((cr + 1) / CAST(t.nr + {_DSIR_BUCKETS} AS DOUBLE)) AS lr
  FROM agg CROSS JOIN tot t)
""".replace("{HEX}", _hex8_to_int_sql("h"))

_DSIR_ORACLE = f"""
WITH {_DSIR_CTE}
SELECT h.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       round(AVG(s.lr), 6) + 0.0 AS dsir_logratio
FROM hb h JOIN sc s ON h.b = s.b
GROUP BY h.doc_id
"""


@query("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public): score each
    document by the average log-likelihood ratio of its HASHED bigram
    features under an add-one-smoothed target bag-of-ngrams LM vs the
    raw-corpus LM. Target here = the deterministic quarter of sources
    with source number % 4 == 0 (the "curated" slice); raw = the full
    corpus (target included — a defined estimator, and at 100 TB the
    raw counts are what one pass gives you). Downstream, these weights
    feed Gumbel-top-k resampling; the weight computation is the
    distributed part and is emitted per-doc here.

    Scale shape: feature hashing (md5 -> 4096 buckets) makes BOTH
    distributions fixed-size — the gram shuffle aggregates map-side
    into <= 4096 rows regardless of corpus size, the per-bucket score
    table broadcasts back, and the per-doc mean is one more map-side
    partial aggregation. Two corpus scans total (bucket counts, then
    join-back) — deliberately NOT caching the exploded gram frame,
    which is corpus-token-sized. Only the per-doc AVG is
    merge-order-sensitive — rounded at 6 (unigram_xent_scores
    precedent), then + 0.0 on BOTH engines: a doc whose mean log-ratio
    is a hair below zero rounds to IEEE -0.0 on one engine and +0.0 on
    the other (DuckDB emitted '-0' at sf10, round-6 sweep), and a
    signed-zero difference is a real hash difference. Adding +0.0
    canonicalizes both zeros (-0.0 + 0.0 = +0.0 in IEEE 754)."""
    hb, sc_df = _dsir_gram_scores(_t(spark, sf_dir, "documents"))
    return (
        hb.join(F.broadcast(sc_df), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            (F.round(F.avg("lr"), 6) + F.lit(0.0)).alias("dsir_logratio"),
        )
    )


def _dsir_gram_scores(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared DSIR plumbing: (hb, sc) where hb = one row per bigram
    instance with its hashed feature bucket, and sc = the <= 4096-row
    per-bucket log-likelihood-ratio table (broadcast side)."""
    toks = widen_if_narrow(d, "doc_id").select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("t")
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(TX.ngrams_of(F.col("t"), 2)).alias("g"),
    )
    hb = grams.select(
        "doc_id",
        "source",
        (
            TX.hex8_to_int(F.md5(F.concat(F.lit("dsir:"), F.col("g"))))
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    is_target = F.substring("source", 4, 10).cast("int") % 4 == 0
    agg = hb.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(is_target, 1).otherwise(0)).alias("ct"),
    )
    tot = agg.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    B = F.lit(_DSIR_BUCKETS)
    sc_df = agg.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + B).cast("double"))
            - F.log((F.col("cr") + 1) / (F.col("nr") + B).cast("double"))
        ).alias("lr"),
    )
    return hb, sc_df


_DSIR_RESAMPLE_ORACLE = f"""
WITH {_DSIR_CTE},
dw AS (
  SELECT h.doc_id,
         SUM(CAST(floor(s.lr * 1000000000.0 + 0.5) AS BIGINT)) AS wi
  FROM hb h JOIN sc s ON h.b = s.b
  GROUP BY h.doc_id),
gu AS (
  SELECT doc_id, wi,
         substring(md5('gum:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
  FROM dw),
keyd AS (
  SELECT doc_id,
         round(CAST(wi AS BIGINT) / 1000000000.0
               - ln(-ln((({_hex8_to_int_sql("h8")}) % 100000 + 1)
                        / 100001.0)), 6) + 0.0 AS gumbel_key
  FROM gu),
r AS (
  SELECT doc_id, gumbel_key,
         CAST(ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id ASC)
              AS BIGINT) AS rnk
  FROM keyd)
SELECT doc_id, gumbel_key, rnk FROM r WHERE rnk <= 100
"""


@query("dsir_gumbel_resample", _DSIR_RESAMPLE_ORACLE)
def dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's second half: sample EXACTLY 100 documents without
    replacement with probability proportional to exp(importance weight)
    via the Gumbel-top-k trick (Xie et al. 2023 resample; Gumbel-max is
    public folklore) — key = log-weight + Gumbel(0,1), take the k
    largest. Working in LOG space is what makes this runnable: the doc
    log-weights (SUM of per-feature log-ratios, the paper's estimator)
    span hundreds of nats, so materializing exp(weight) for A-ES
    (weighted_reservoir_topk) would overflow; the Gumbel form never
    exponentiates.

    Determinism discipline (reservoir-sample precedent, plus the
    round-6 ladder lessons): the Gumbel uniform is the md5(doc_id)
    integer mapped into (0,1); the log-weight is summed as exact BIGINT
    nano-nats (each per-bucket lr is a bit-identical double on both
    engines, scaled and rounded once) so the merge order cannot move
    it; key = one identical divide + subtract chain, rounded 6 with a
    doc_id tie-break; + 0.0 canonicalizes signed zeros. Global top-k
    plans as TakeOrderedAndProject; ranks assigned over the 100
    survivors only."""
    hb, sc_df = _dsir_gram_scores(_t(spark, sf_dir, "documents"))
    dw = (
        hb.join(F.broadcast(sc_df), "b")
        .groupBy("doc_id")
        .agg(
            # floor(x + 0.5), not round(x, 0): Spark HALF_UPs the
            # shortest decimal repr while DuckDB rounds the binary
            # value, so a per-bucket lr landing on a representational
            # .5 tie would desync wi on the two engines (r6 ADVICE).
            # floor of the identical IEEE double is tie-stable.
            F.sum(
                F.floor(F.col("lr") * 1_000_000_000.0 + 0.5).cast("bigint")
            ).alias("wi")
        )
    )
    u = (
        TX.hex8_to_int(
            F.md5(F.concat(F.lit("gum:"), F.col("doc_id").cast("string")))
        )
        % 100000
        + 1
    ) / 100001.0
    key = (
        F.round(
            F.col("wi") / F.lit(1_000_000_000.0) - F.log(-F.log(u)), 6
        )
        + F.lit(0.0)
    ).alias("gumbel_key")
    top = (
        dw.select("doc_id", key)
        .orderBy(F.col("gumbel_key").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    win = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(win).cast("bigint"))


# ---- wave 50 (round 7): DOULION approximate triangle counting ----
# The exact m^1.5 wedge plan was proven the floor in r5 but died on
# single-node SPILL DISK at sf10 (SCALE.md). DOULION (Tsourakakis et
# al., KDD 2009 — public) sparsifies edges at probability p and scales
# the surviving count by 1/p^3: wedge work drops to p^1.5 of exact
# while the estimator stays unbiased. Same exact/approx pairing
# discipline as LSH-vs-brute-force: the estimate query is the scale
# path, the gate pins its error against the exact count at driver
# scales (measured rel_err: 0.105 @ sf0.001, 0.001 @ sf0.01 — the
# bound 0.15 binds at the SMALLEST sf and only tightens with scale).
# The coin is md5 of the canonical edge key, so the sample — and both
# engines' estimates — are bit-reproducible; p = 0.2 makes 1/p^3 = 125
# an exact integer, one BIGINT*constant multiply, no pow() ulp risk.

def _copurchase_edge_sql(alias_e: str = "e") -> str:
    return f"""
pr AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
{alias_e} AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pr a JOIN pr b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


_DOULION_SAMPLED_CTE = f"""{_copurchase_edge_sql()},
eh AS (SELECT u, v,
              substring(md5('tri:' || CAST(u AS VARCHAR) || ':'
                            || CAST(v AS VARCHAR)), 1, 8) AS h8
       FROM e),
s AS (SELECT u, v FROM eh WHERE (({_hex8_to_int_sql("h8")}) % 10) < 2),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles_sampled
       FROM s e1 JOIN s e2 ON e2.u = e1.u AND e2.v > e1.v
                 JOIN s e3 ON e3.u = e1.v AND e3.v = e2.v)"""


_DOULION_ORACLE = f"""
WITH {_DOULION_SAMPLED_CTE}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_edges_sampled,
       st.n_triangles_sampled,
       CAST(st.n_triangles_sampled * 125.0 AS DOUBLE) AS triangles_est
FROM st
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_bigquery_pipeline_spark.operators import graph

    l = _t(spark, sf_dir, "lineitem")
    pairs = graph.cooccurrence_pairs(l, "l_orderkey", "l_partkey")
    return graph.undirected_edges(pairs, "pa", "pb")


@query("copurchase_triangles_doulion", _DOULION_ORACLE)
def copurchase_triangles_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION triangle estimate on the co-purchase graph at p = 0.2:
    the completes-at-any-scale companion to copurchase_triangles. The
    sampled subgraph goes through the identical degree-ordered m^1.5
    plan, but with 2.8% of the exact wedge volume (0.2^1.5) — measured
    at sf10 where the exact count exhausted single-node spill disk.
    The md5 coin makes the oracle's estimate bit-identical."""
    from etl_bigquery_pipeline_spark.operators import graph

    return graph.doulion_triangle_estimate(
        _copurchase_edges(spark, sf_dir), keep_num=2, keep_den=10
    )


_TRIANGLE_GATE_ORACLE = f"""
WITH {_DOULION_SAMPLED_CTE},
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles_exact
       FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                 JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT ex.n_triangles_exact,
       CAST(st.n_triangles_sampled * 125.0 AS DOUBLE) AS triangles_est,
       floor(abs(st.n_triangles_sampled * 125.0 - ex.n_triangles_exact)
             / ex.n_triangles_exact * 1e6 + 0.5) / 1e6 AS rel_err,
       (abs(st.n_triangles_sampled * 125.0 - ex.n_triangles_exact)
        / ex.n_triangles_exact) <= 0.15 AS est_ok
FROM ex, st
"""


@query("triangle_sample_error_gate", _TRIANGLE_GATE_ORACLE)
def triangle_sample_error_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy gate for the DOULION estimator: exact count and p=0.2
    estimate on the SAME edge set, relative error pinned <= 0.15 (the
    sf0.001 worst case is 0.105; variance shrinks as 1/sqrt(T*p^3), so
    the bound only loosens as the graph grows — scale-invariant in the
    r6 ladder's sense). Fully oracled: both engines replicate the
    deterministic sample, the exact count, and the error arithmetic,
    so this is a value-hash parity row, not a constant-true contract."""
    from etl_bigquery_pipeline_spark.operators import graph

    # one counting pass for BOTH arms: the DOULION coin rides the
    # oriented edges as a flag and the sampled count comes from the
    # flagged-adjacency intersection in the same pass (a sampled-
    # subgraph triangle == a full-graph triangle with all three edges
    # flagged) — previously the sampled arm re-oriented and re-counted
    # its own subgraph; r11 moved both arms from the wedge join to
    # neighbor-array intersection (graph.triangle_counts_with_flag)
    edges = scoped_cache(
        _copurchase_edges(spark, sf_dir).withColumn(
            "__keep", graph.doulion_coin(keep_num=2, keep_den=10)
        )
    )
    counts = graph.triangle_counts_with_flag(edges, "__keep")
    both = counts.select(
        F.col("n_triangles").alias("n_triangles_exact"),
        (F.col("n_triangles_flagged") * F.lit(125.0)).alias("triangles_est"),
    )
    rel = (
        F.abs(F.col("triangles_est") - F.col("n_triangles_exact"))
        / F.col("n_triangles_exact")
    )
    return both.select(
        "n_triangles_exact",
        "triangles_est",
        # tie-stable rounding: Spark's round() HALF_UPs the shortest
        # decimal repr while DuckDB rounds the binary double, so a
        # representational .5 tie could desync — floor(x*1e6+0.5)/1e6
        # is bit-identical in both engines (same fix as dsir weights)
        (F.floor(rel * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("rel_err"),
        (rel <= 0.15).alias("est_ok"),
    )


