"""Round-11 wave 53 — corpus diagnostics for the curation tier.

Five operators a 100 TB training-data pipeline runs between ingestion
and mixture design: tokenizer fertility (per-language cost of a BPE-ish
tokenizer vs whitespace words), cross-lingual exact-duplicate detection
(the mislabeled-language variant of exact dedup), a source-overlap
matrix (pairwise fingerprint Jaccard between ingestion sources — the
"how much of source B is already in source A" question that decides
whether a new crawl is worth keeping), a vocabulary coverage curve
(what fraction of token occurrences a top-K vocabulary captures, per
language), and a near-dup cluster-size histogram (the shape of the
duplication graph, which sets the dedup savings estimate).

Reference parity: the reference's only dedup is pandas
``drop_duplicates`` (/root/reference/dags/etl_pipeline.py:137-140);
this wave is north-star tier (SURVEY.md §2.8). All five are pure
DataFrame compositions — no UDFs — and every computed column is aliased
identically in the DuckDB oracle.
"""

from __future__ import annotations

from etl_bigquery_pipeline_spark.plans.catalog_base import (
    DataFrame,
    F,
    SparkSession,
    TX,
    Window,
    _CLUSTERS_ORACLE,
    _t,
    query,
    scoped_cache,
    widen_if_narrow,
)
from etl_bigquery_pipeline_spark.operators import dedup

# ===================================================================
# Wave 49 — corpus diagnostics
# ===================================================================

# ---- tokenizer fertility by language ----

_FERTILITY_ORACLE = r"""
WITH t AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
         length(text) AS n_chars
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(n_bpe / greatest(n_tok, 1)), 4) AS fertility,
       ROUND(AVG(n_chars / greatest(n_bpe, 1)), 4) AS chars_per_bpe,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe
FROM t GROUP BY lang
"""


@query("tokenizer_fertility_by_lang", _FERTILITY_ORACLE)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (the classic "how expensive is this language to tokenize"
    statistic that drives per-language token budgets) and characters per
    BPE token. Narrow projection -> 5-group aggregate: one scan, full
    map-side partial aggregation, shuffle carries 5 rows per task."""
    # widen before the per-doc regex projections: a single-row-group
    # documents.parquet at sf10 otherwise serializes the scan+compute
    # into one task (the r11 simhash straggler class)
    d = widen_if_narrow(_t(spark, sf_dir, "documents"), "doc_id")
    per = d.select(
        "lang",
        TX.token_count("text").alias("n_tok"),
        TX.word_token_count("text").alias("n_bpe"),
        F.length("text").alias("n_chars"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.avg(F.col("n_bpe") / F.greatest(F.col("n_tok"), F.lit(1))), 4
        ).alias("fertility"),
        F.round(
            F.avg(F.col("n_chars") / F.greatest(F.col("n_bpe"), F.lit(1))), 4
        ).alias("chars_per_bpe"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe"),
    )


# ---- cross-lingual exact duplicates (mislabeled-language dedup) ----

_XLING_ORACLE = r"""
WITH docs AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000,
         CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'en'
                   WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'es' ELSE 'en' END,
         text
  FROM documents WHERE doc_id % 20 = 0),
g AS (
  SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_key,
         MIN(doc_id) AS keep_doc_id,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT lang) AS n_langs,
         array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
  FROM docs GROUP BY content_key)
SELECT content_key, keep_doc_id, n_docs, n_langs, langs
FROM g WHERE n_langs > 1
"""


@query("cross_lingual_exact_dupes", _XLING_ORACLE)
def cross_lingual_exact_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content groups that span MORE THAN ONE language label —
    the mislabeled-language duplicate class (same crawl page entering
    the corpus under two language IDs), which per-language exact dedup
    silently misses. Planted: every 20th doc re-enters under a rotated
    language label. One groupBy on the 32-char content hash (same
    shuffle key as exact dedup); the >1-language filter happens post-
    aggregate, so the shuffle carries one row per distinct content."""
    d = widen_if_narrow(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "lang", "text"
    )
    planted = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.when(F.col("lang") == "en", F.lit("de"))
        .when(F.col("lang") == "de", F.lit("en"))
        .when(F.col("lang") == "es", F.lit("fr"))
        .when(F.col("lang") == "fr", F.lit("es"))
        .otherwise(F.lit("en"))
        .alias("lang"),
        "text",
    )
    corpus = d.unionAll(planted)
    keyed = corpus.select(
        F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("content_key"),
        "doc_id",
        "lang",
    )
    g = keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
    )
    return g.filter(F.col("n_langs") > 1)


# ---- source-overlap matrix (pairwise fingerprint Jaccard) ----

_SRC_OVERLAP_ORACLE = r"""
WITH docs AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'src' || CAST((CAST(substring(source, 4) AS INTEGER) + 7) % 20 AS VARCHAR),
         text
  FROM documents WHERE doc_id % 10 = 0),
sfp AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_sort(list_distinct(
             list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))), ' ')) AS fp
  FROM docs),
per AS (SELECT source, COUNT(*) AS n FROM sfp GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT source_a, source_b, n_shared,
       ROUND(n_shared / (pa.n + pb.n - n_shared), 6) AS jaccard
FROM pairs
JOIN per pa ON pairs.source_a = pa.source
JOIN per pb ON pairs.source_b = pb.source
"""


@query("source_overlap_matrix", _SRC_OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between ingestion sources: Jaccard of
    the sources' bag-of-words fingerprint sets — the "is this new crawl
    already covered" matrix that decides whether a source earns its
    storage. Planted: every 10th doc re-enters under a shifted source id
    so every source pair has known overlap.

    Scale shape: one distinct over (source, fp) — shuffle keyed by the
    high-cardinality fingerprint — then a self-equi-join on fp (dup
    groups are tiny, no skew) reduced to at most |sources|^2/2 rows; the
    20-row per-source totals broadcast onto the pair aggregate."""
    d = widen_if_narrow(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "source", "text"
    )
    planted = d.filter(F.col("doc_id") % 10 == 0).select(
        F.concat(
            F.lit("src"),
            ((F.substring("source", 4, 10).cast("int") + 7) % 20).cast("string"),
        ).alias("source"),
        "text",
    )
    corpus = d.select("source", "text").unionAll(planted)
    # cached: per-source totals and BOTH self-join sides consume this
    # frame — uncached, the tokenize/sort/md5 fingerprint pass over the
    # corpus runs three times (measured as 16 document scans in the r11
    # plan audit)
    sfp = scoped_cache(
        corpus.select("source", TX.fingerprint("text").alias("fp")).distinct()
    )
    per = sfp.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sfp.alias("a")
        .join(
            sfp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(F.broadcast(per).withColumnRenamed("n", "na"), F.col("source_a") == F.col("source"))
        .drop("source")
        .join(F.broadcast(per).withColumnRenamed("n", "nb"), F.col("source_b") == F.col("source"))
        .drop("source")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


# ---- vocabulary coverage curve ----

_VOCAB_COVERAGE_ORACLE = r"""
WITH tok AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
  FROM documents),
cnt AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY lang, token),
rk AS (
  SELECT lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rank
  FROM cnt),
tot AS (SELECT lang, SUM(cnt) AS total FROM cnt GROUP BY lang),
agg AS (
  SELECT rk.lang,
         SUM(CASE WHEN rank <= 5 THEN cnt ELSE 0 END) AS c5,
         SUM(CASE WHEN rank <= 20 THEN cnt ELSE 0 END) AS c20,
         MAX(total) AS total
  FROM rk JOIN tot ON rk.lang = tot.lang GROUP BY rk.lang)
SELECT lang, k, coverage FROM (
  SELECT lang, 5 AS k, ROUND(c5 / total, 6) AS coverage FROM agg
  UNION ALL
  SELECT lang, 20 AS k, ROUND(c20 / total, 6) AS coverage FROM agg)
"""


@query("vocab_coverage_curve", _VOCAB_COVERAGE_ORACLE)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve per language: the fraction of token
    OCCURRENCES captured by the top-K most frequent types (cnt desc,
    token asc — a total order), for K in {5, 20} (the synthetic corpus
    has a 31-type vocabulary per language; a real run would use
    {1e4, 1e5}). This is the statistic that sizes a tokenizer vocab.

    Scale shape: the (lang, token) count shuffles on the token-bearing
    key, not on lang. The top-K rank then runs in TWO phases so no
    single reducer ever sees a language's full Heaps-law vocabulary:
    phase 1 ranks within (lang, salt=hash(token)%16) — each type lives
    in exactly one salt bucket, so per-bucket counts are complete and
    the global per-language top-K is a subset of the union of the 16
    per-bucket top-Ks — phase 2 re-ranks the <=16*K survivors per
    language. The 5-row per-language totals broadcast back on."""
    d = widen_if_narrow(_t(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("lang", F.explode(TX.tokens("text")).alias("token"))
    cnt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    k_max = 20
    salted = cnt.withColumn("__salt", F.pmod(F.hash("token"), F.lit(16)))
    w1 = Window.partitionBy("lang", "__salt").orderBy(
        F.desc("cnt"), F.asc("token")
    )
    cand = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k_max)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    ranked = cand.withColumn("rank", F.row_number().over(w2))
    tot = cnt.groupBy("lang").agg(F.sum("cnt").alias("total"))
    agg = (
        ranked.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("rank") <= 5, F.col("cnt")).otherwise(0)).alias("c5"),
            F.sum(F.when(F.col("rank") <= 20, F.col("cnt")).otherwise(0)).alias("c20"),
            F.max("total").alias("total"),
        )
    )
    return agg.select(
        "lang",
        F.explode(
            F.array(
                F.struct(
                    F.lit(5).alias("k"),
                    F.round(F.col("c5") / F.col("total"), 6).alias("coverage"),
                ),
                F.struct(
                    F.lit(20).alias("k"),
                    F.round(F.col("c20") / F.col("total"), 6).alias("coverage"),
                ),
            )
        ).alias("kc"),
    ).select("lang", F.col("kc.k").alias("k"), F.col("kc.coverage").alias("coverage"))


# ---- near-dup cluster-size histogram ----

# The oracle reuses the cluster-closure replay (catalog_p4_breadth.
# _CLUSTERS_ORACLE) with a SECOND mutated copy planted per doc (so
# components chain to size 3: original ~ copy1 ~ copy2) and wraps the
# component assignment in a size histogram via nested subqueries — no
# CTE-list surgery needed.
_CLUSTER_HIST_ORACLE = _CLUSTERS_ORACLE.replace(
    "SELECT doc_id + 1000000, text || ' zzz extra' FROM documents WHERE doc_id < 25",
    "SELECT doc_id + 1000000, text || ' zzz extra' FROM documents WHERE doc_id < 25\n"
    "  UNION ALL\n"
    "  SELECT doc_id + 2000000, text || ' zzz extra qq' FROM documents WHERE doc_id < 25",
).replace(
    "SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node",
    """SELECT cluster_size, COUNT(*) AS n_clusters FROM (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM (
    SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node) comp
  GROUP BY cluster_id) sizes
GROUP BY cluster_size""",
)


@query("minhash_cluster_size_histogram", _CLUSTER_HIST_ORACLE)
def minhash_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes — the duplication-graph
    shape that turns a dedup run into a savings estimate (sum over
    clusters of size-1) and flags pathological mega-clusters before
    canonicalization. Planted: TWO mutated copies per doc (ids +1e6,
    +2e6) so closure must chain A~B~C into size-3 components; sizes
    count cluster members (docs that appear in at least one pair —
    singletons never enter the pair graph).

    Reuses the banded MinHash pair build (exact-recall parity with the
    SQL replay) and the pointer-doubling closure; the histogram itself
    is two bounded aggregates over one row per clustered doc."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    p1 = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    p2 = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra qq")).alias("text"),
    )
    corpus = d.unionAll(p1).unionAll(p2)
    pairs = dedup.minhash_near_dup_pairs(
        corpus,
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        shingle_n=3,
        threshold=0.6,
        max_band_bucket=None,  # exact-recall parity with the SQL replay
    )
    clusters = dedup.near_dup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
