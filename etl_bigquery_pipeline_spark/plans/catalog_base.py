"""Oracle-checked query catalog — the driver contract behind
__spark_entry__.py.

Every operator from SURVEY.md §2 (and the north-star tier) appears here as
a named query: a PySpark implementation (spark, sf_dir) -> DataFrame plus a
dialect-equivalent DuckDB SQL oracle over the same parquet tables. Naming
rule: every computed column is aliased identically on both sides (the
driver sorts columns by name before hashing).

Cross-engine determinism rules used throughout:
- SUM over doubles goes through DECIMAL(18,4) (exact, order-independent),
  then one cast to double — see functions.coercion.exact_sum.
- AVG and similarity scores are rounded (4 / 6 decimals): the residual
  engine difference is ~1e-12 relative, orders of magnitude below the
  rounding granularity.
- Ranks use row_number over a total order (rounded score desc, id asc).
- All hashes are md5-derived; MinHash minima compare fixed-width lowercase
  hex strings, never engine-specific integers. A hash drawn as an integer
  takes the first 8 hex digits: ``functions.text.hex8_to_int`` in Spark,
  ``_hex8_to_int_sql`` in DuckDB (which has no conv()).
- One DuckDB spelling per shared technique, built here: ``_cosine_sql``
  (rounded cosine over the first ``dims`` components, the twin of
  ``similarity.rank_by_cosine``'s score) and ``_simhash_sql`` (the
  nibble-majority SimHash of ``dedup.with_simhash``).
- Timestamps stay at native microsecond precision; session gap logic uses
  interval comparisons (no second-truncation).

The dedup/near-dup queries plant mutated copies of real rows in-query
(UNION ALL with shifted ids) because the synthetic corpus has no natural
duplicates — detection is then visible in the result, and the oracle plants
the identical rows.

Shared by several parts and kept here, so no part imports another: the
fixed-size embedding query panel (``_ann_panel``), the planted near-dup
corpus (``_planted_corpus``) and the oracle texts later queries extend
(``_MINHASH_ORACLE``, ``_CLUSTERS_ORACLE``, ``_LOGREG_ORACLE``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.caching import scoped_cache
from etl_bigquery_pipeline_spark.operators.localrel import literal_frame

from etl_bigquery_pipeline_spark.functions import text as TX
from etl_bigquery_pipeline_spark.functions.vectors import norm
from etl_bigquery_pipeline_spark.functions.coercion import (
    exact_sum,
    to_double_or_null,
)
from etl_bigquery_pipeline_spark.operators import (
    cleaning,
    dedup,
    layout,
    pq,
    quality_model,
    scd,
    schema_ops,
    sessionize,
    similarity,
    windows,
)
from etl_bigquery_pipeline_spark.operators.partitioning import widen_if_narrow
from etl_bigquery_pipeline_spark.plans import dq
from etl_bigquery_pipeline_spark.sources.readers import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ===================================================================
# DuckDB spellings shared by the oracles
# ===================================================================

_HEX = "0123456789abcdef"


def _hex_digit_sql(col: str, pos: int) -> str:
    """The value 0-15 of the hex digit at 1-based ``pos`` of ``col``."""
    return f"strpos('{_HEX}', substring({col}, {pos}, 1)) - 1"


def _hex8_to_int_sql(h: str) -> str:
    """DuckDB SQL turning an 8-hex-char column ``h`` into its integer
    value (DuckDB has no conv()): sum of nibble * 16^position. The Spark
    spelling is ``functions.text.hex8_to_int``."""
    return " + ".join(
        f"({_hex_digit_sql(h, i + 1)}) * {16 ** (7 - i)}" for i in range(8)
    )


def _simhash_sql(nibbles: int) -> str:
    """DuckDB SimHash over the CTE columns ``th`` (each token's md5 hex
    prefix, ``nibbles`` digits) and ``nt`` (token count): a bit is set
    when more than half the tokens set it; the result is the
    ``nibbles``-digit lowercase hex string ``dedup.with_simhash`` gives."""
    nib_exprs = []
    for p in range(nibbles):
        bits = []
        for j in (3, 2, 1, 0):
            ones = (
                f"len(list_filter(th, h -> "
                f"((({_hex_digit_sql('h', p + 1)}) >> {j}) & 1) = 1))"
            )
            bits.append(f"(CASE WHEN 2 * {ones} > nt THEN 1 ELSE 0 END)")
        nib = f"({bits[0]}*8 + {bits[1]}*4 + {bits[2]}*2 + {bits[3]})"
        nib_exprs.append(f"substring('{_HEX}', {nib} + 1, 1)")
    return " || ".join(nib_exprs)


_DIM = 64  # embedding width


def _cosine_sql(a: str, b: str, dims: int = _DIM) -> str:
    """Cosine of the first ``dims`` components of list columns ``a`` and
    ``b``, rounded to 6 decimals."""

    def dot(x: str, y: str) -> str:
        return (
            f"list_sum([CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
            f"for i in generate_series(1, {dims})])"
        )

    return f"round({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"


# ===================================================================
# The embedding panel and the oracle texts later queries extend
# ===================================================================

# ANN/recall/eval query panels are FIXED-SIZE, not corpus-proportional:
# every Nth vector UP TO AN ID CAP. A recall/top-k gate gets no more
# statistically useful with a proportional panel, but its exact arm pays
# |panel| x |corpus| — proportional panels make every such gate QUADRATIC
# in scale. Measured at the sf10 (100x bench) rehearsal before the cap:
# lsh_recall_vs_exact cost 298x for 100x data (1.5s -> 448s). The cap
# binds only above ~sf5 (vec_id < 102400 covers every vector at driver
# and bench scales, embeddings Nv = 20k x sf), so oracle results are
# bit-identical where the driver compares; at 100x it pins the panels at
# 4096/2048/1024 queries (moduli 25/50/100) and the exact arms go linear.
_ANN_PANEL_MAX_ID = 102400


def _ann_panel(emb: DataFrame, modulus: int) -> DataFrame:
    return emb.filter(
        (F.col("vec_id") % modulus == 0)
        & (F.col("vec_id") < _ANN_PANEL_MAX_ID)
    )


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id, text) plus a planted near-duplicate of each of
    the first 25 (id + 1000000, text + ' zzz extra'): the Spark side of
    the near-dup oracles' ``docs`` CTE."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    return d.unionAll(planted)


# MinHash(16) + LSH(4 bands) near-dup pairs over _planted_corpus
# (minhash_near_dup_pairs).
_MINHASH_ORACLE = """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' zzz extra' FROM documents WHERE doc_id < 25),
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM docs),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(t) - 2, 1))]) AS s
  FROM toks),
sig AS (
  -- four 8-hex (32-bit) minhash lanes per md5 digest (seed k uses digest
  -- k//4, offset (k%4)*8) — mirrors _signatures_from_shingles
  SELECT doc_id, s,
         [list_min([substring(md5(CAST(k // 4 AS VARCHAR) || ':' || x),
                              (k % 4) * 8 + 1, 8) for x in s])
          for k in generate_series(0, 15)] AS sg
  FROM sh),
bands AS (
  SELECT doc_id, gs.b AS band,
         md5(CAST(gs.b AS VARCHAR) || '|' || array_to_string(sg[gs.b*4+1 : gs.b*4+4], ',')) AS band_key
  FROM sig CROSS JOIN generate_series(0, 3) AS gs(b)),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band_key = r.band_key AND l.band = r.band AND l.doc_id < r.doc_id),
scored AS (
  SELECT id_a, id_b,
         round(len(list_intersect(a.s, b.s)) /
               (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard_sim
  FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id)
SELECT id_a, id_b, jaccard_sim FROM scored WHERE jaccard_sim >= 0.6
"""

# Near-dup clusters (minhash_cluster_canonicals): the minhash pair
# replay verbatim, closed transitively with a recursive CTE:
# reach(node, label) holds every label reachable from node over the
# (symmetric) edge set, so MIN(label) per node is the component
# minimum — exactly near_dup_clusters' output.
_CLUSTERS_ORACLE = (
    _MINHASH_ORACLE.replace("WITH docs AS", "WITH RECURSIVE docs AS").replace(
        "SELECT id_a, id_b, jaccard_sim FROM scored WHERE jaccard_sim >= 0.6",
        """pairs AS (
  SELECT id_a, id_b FROM scored WHERE jaccard_sim >= 0.6),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node""",
    ).replace("FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id)",
              "FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id),")
)

# model-based quality filter: three gradient steps of logistic regression
# (logreg_quality_scores)
_LOGREG_FEATS_CTE = """
base AS (
  SELECT doc_id, n_chars,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
feats AS (
  SELECT doc_id,
         round(ln(1 + n_chars), 6) AS x1,
         round(ln(1 + len(toks)), 6) AS x2,
         round(CAST(len(list_distinct(toks)) AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS x3,
         CASE WHEN n_chars >= 150 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS y
  FROM base)
"""

_LOGREG_ORACLE = f"""
WITH {_LOGREG_FEATS_CTE},
gr1 AS (
  SELECT round(avg(y - 0.5), 6) AS g0,
         round(avg((y - 0.5) * x1), 6) AS g1,
         round(avg((y - 0.5) * x2), 6) AS g2,
         round(avg((y - 0.5) * x3), 6) AS g3
  FROM feats),
w1 AS (
  SELECT 0.0 + 0.1 * g0 AS w0, 0.0 + 0.1 * g1 AS w1,
         0.0 + 0.1 * g2 AS w2, 0.0 + 0.1 * g3 AS w3
  FROM gr1),
p2 AS (
  SELECT f.doc_id, f.x1, f.x2, f.x3, f.y,
         round(1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
                                  + w.w3 * f.x3))), 6) AS p
  FROM feats f CROSS JOIN w1 w),
gr2 AS (
  SELECT round(avg(y - p), 6) AS g0,
         round(avg((y - p) * x1), 6) AS g1,
         round(avg((y - p) * x2), 6) AS g2,
         round(avg((y - p) * x3), 6) AS g3
  FROM p2),
w2 AS (
  SELECT w.w0 + 0.1 * g.g0 AS w0, w.w1 + 0.1 * g.g1 AS w1,
         w.w2 + 0.1 * g.g2 AS w2, w.w3 + 0.1 * g.g3 AS w3
  FROM w1 w CROSS JOIN gr2 g),
p3 AS (
  SELECT f.doc_id, f.x1, f.x2, f.x3, f.y,
         round(1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
                                  + w.w3 * f.x3))), 6) AS p
  FROM feats f CROSS JOIN w2 w),
gr3 AS (
  SELECT round(avg(y - p), 6) AS g0,
         round(avg((y - p) * x1), 6) AS g1,
         round(avg((y - p) * x2), 6) AS g2,
         round(avg((y - p) * x3), 6) AS g3
  FROM p3),
w3 AS (
  SELECT w.w0 + 0.1 * g.g0 AS w0, w.w1 + 0.1 * g.g1 AS w1,
         w.w2 + 0.1 * g.g2 AS w2, w.w3 + 0.1 * g.g3 AS w3
  FROM w2 w CROSS JOIN gr3 g),
scored AS (
  SELECT f.doc_id,
         round(1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
                                  + w.w3 * f.x3))), 6) AS score
  FROM feats f CROSS JOIN w3 w)
SELECT doc_id, score, score >= 0.5 AS pred_high_quality FROM scored
"""
