"""Equivalent oracle rewrites over MATERIALIZED family CTEs (r8 verdict
ask #3 lever c).

The sf10 exclusion tail is dominated by oracle COST, not engine cost:
each member of a query family re-runs the same monolithic corpus-sized
CTE inside DuckDB (the co-purchase edge self-join, the brute-force
embedding cosine panel, the document shingle sets) — five graph oracles
pay the lineitem self-join five times, six embedding oracles pay the
panel x corpus dot products six times. This module materializes each
family's shared prefix ONCE into a parquet file under the sweep's
--mat-dir and rewrites every member to read it.

Contract:
- MATERIALIZATIONS: ordered {key: SELECT ...} — each becomes
  {mat_dir}/{key}.parquet; later entries may read earlier ones via the
  '{mat}' placeholder. Built by scripts/oracle_sweep.py --materialize
  (write-to-temp + os.replace, so an interrupted build never leaves a
  half-written file behind).
- OVERRIDE_SQL: {query_name: (needed_keys, rewritten_oracle_sql)} —
  the rewrite must return EXACTLY the original oracle's result (same
  columns, same values); tests/test_oracle_overrides.py proves that by
  running both texts on the same DuckDB connection at a small sf and
  diffing the full sorted result sets.

These rewrites change WHERE the oracle's intermediate results live
(parquet vs in-query CTE), never WHAT is computed — the engine side of
every comparison is untouched.
"""

from __future__ import annotations

# Shared SQL fragments (verbatim from the original oracles in
# plans/catalog.py — equivalence depends on byte-level identical
# expressions, notably the round(,6) placement and tie-break orders).

# the minhash chain over the PLANTED doc corpus, verbatim through
# `scored` (shared by four oracles)
_MH_SCORED = """
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
SELECT id_a, id_b, jaccard_sim FROM scored
"""

# ---- materializations (ordered: later entries may read earlier) ----

MATERIALIZATIONS: dict[str, str] = {
    # GRAPH family: the co-purchase edge set (lineitem self-join) —
    # paid once instead of five times
    "edges": """
WITH pr AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2)
SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
FROM pr a JOIN pr b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
""",
    # EMBEDDING family: the brute-force cosine panels. Per-vector norms
    # precompute ONCE (the originals recompute both norms per PAIR —
    # 3x the list-comprehension work over 819M pairs at sf10);
    # sqrt(sum(q^2)) * sqrt(sum(c^2)) is the same two doubles
    # multiplied, so the rounded cosine is bit-identical.
    #
    # cos64: the %25 SUPERSET panel (members' %50 / %100 panels are
    # subsets) x whole corpus, SELF-PAIRS INCLUDED (semantic
    # decontamination's planted copies need sim(x, x)), 64-dim only.
    "cos64": """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)])) AS nrm
  FROM embeddings)
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, 64)]) / (q.nrm * c.nrm), 6) AS sim64
FROM n q JOIN n c ON q.vec_id % 25 = 0 AND q.vec_id < 102400
""",
    # per-query 64-dim ranks, self EXCLUDED (every ranking member
    # filters query_id <> neighbor_id); reproduces the originals'
    # ORDER BY sim DESC, neighbor_id ASC tie-break
    "rank64": """
SELECT query_id, neighbor_id, sim64,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY sim64 DESC, neighbor_id ASC) AS BIGINT) AS rnk64
FROM read_parquet('{mat}/cos64.parquet')
WHERE query_id <> neighbor_id
""",
    # 16-dim (truncated/approx arm) sims + ranks for the %50 panel the
    # two consumers (ann_mrr_ndcg_eval, truncated_dim_topk) share
    "rank16": """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 16)])) AS nrm
  FROM embeddings),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, 16)]) / (q.nrm * c.nrm), 6) AS sim16
  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND q.vec_id < 102400
  WHERE q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, sim16,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY sim16 DESC, neighbor_id ASC) AS BIGINT) AS rnk16
FROM s
""",
    # DOCS family: distinct word-2-gram shingle lists per document
    "sh2": """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents)
SELECT doc_id,
       list_distinct([array_to_string(t[i:i+2], ' ')
                      for i in generate_series(1, greatest(len(t) - 2, 1))]) AS s
FROM toks
""",
    # banded pair overlaps (0 < id_b - id_a <= 100): the quadratic
    # list_intersect work both pair oracles repeat
    "pair_overlap": """
WITH sh AS (SELECT doc_id, s FROM read_parquet('{mat}/sh2.parquet'))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s)) AS inter,
       len(a.s) AS len_a, len(b.s) AS len_b
FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 100
""",
    # the full minhash band chain over the planted corpus, through the
    # exact-jaccard scoring of banded candidates (four oracles share it)
    "mh_scored_p": _MH_SCORED,
    # the TWO-copy planted variant (wave 53's cluster-size histogram
    # chains A ~ copy1 ~ copy2): same minhash chain, second mutated
    # copy per planted doc
    "mh_scored_p2": _MH_SCORED.replace(
        "SELECT doc_id + 1000000, text || ' zzz extra' FROM documents WHERE doc_id < 25),",
        "SELECT doc_id + 1000000, text || ' zzz extra' FROM documents WHERE doc_id < 25\n"
        "  UNION ALL\n"
        "  SELECT doc_id + 2000000, text || ' zzz extra qq' FROM documents WHERE doc_id < 25),",
    ),
    # GRAPH family: the full negative-sampling rank — the quadratic
    # candidate scan (8.4e9 md5s at sf10) is the whole oracle cost,
    # paid once here instead of inside every sweep's budget. The naive
    # NOT-EXISTS over all candidates also spilled DuckDB temp past the
    # disk (r10), so this uses the SAME provably-exact hash-prefix
    # prefilter as the Spark operator (operators/graph.py
    # negative_samples): fixed-width lowercase-hex md5 means prefix
    # order dominates full-key order, so every survivor of the 32-bit
    # threshold ranks before every non-survivor; a probe keeping >= 5
    # non-adjacent survivors has its global top-5 inside them, and
    # probes left short re-rank over their full candidate set in the
    # fallback union. tests/test_oracle_overrides.py proves the whole
    # chain equals the original unfiltered oracle.
    "negs": """
WITH __e AS (SELECT u, v FROM read_parquet('{mat}/edges.parquet')),
__nodes AS (SELECT u AS node FROM __e UNION SELECT v FROM __e),
probes AS (SELECT node AS probe FROM __nodes WHERE node % 500 = 0),
surv AS (
  SELECT t.probe, t.cand, t.h FROM (
    SELECT p.probe, n.node AS cand,
           md5('negs:' || CAST(p.probe AS VARCHAR) || ':'
               || CAST(n.node AS VARCHAR)) AS h
    FROM probes p CROSS JOIN __nodes n WHERE n.node <> p.probe) t
  WHERE substring(t.h, 1, 8) <=
        (SELECT lower(lpad(to_hex(CAST(least(4294967295,
                4294967296 * 256 // COUNT(*)) AS UBIGINT)), 8, '0'))
         FROM __nodes)),
non_adj AS (
  SELECT s.probe, s.cand, s.h FROM surv s
  LEFT JOIN __e e ON e.u = least(s.probe, s.cand)
               AND e.v = greatest(s.probe, s.cand)
  WHERE e.u IS NULL),
enough AS (SELECT probe FROM non_adj GROUP BY probe HAVING COUNT(*) >= 5),
main AS (
  SELECT n.probe, n.cand,
         CAST(ROW_NUMBER() OVER (PARTITION BY n.probe
              ORDER BY n.h ASC, n.cand ASC) AS BIGINT) AS rnk
  FROM non_adj n JOIN enough g ON n.probe = g.probe),
short AS (
  SELECT p.probe FROM probes p
  LEFT JOIN enough g ON p.probe = g.probe WHERE g.probe IS NULL),
fb_non_adj AS (
  SELECT c.probe, c.cand, c.h FROM (
    SELECT p.probe, n.node AS cand,
           md5('negs:' || CAST(p.probe AS VARCHAR) || ':'
               || CAST(n.node AS VARCHAR)) AS h
    FROM short p CROSS JOIN __nodes n WHERE n.node <> p.probe) c
  LEFT JOIN __e e ON e.u = least(c.probe, c.cand)
               AND e.v = greatest(c.probe, c.cand)
  WHERE e.u IS NULL),
fb AS (
  SELECT probe, cand,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe
              ORDER BY h ASC, cand ASC) AS BIGINT) AS rnk
  FROM fb_non_adj)
SELECT probe, cand, rnk FROM main WHERE rnk <= 5
UNION ALL
SELECT probe, cand, rnk FROM fb WHERE rnk <= 5
""",
    # lowercase word-3-gram lists (decontamination's tokenization)
    "g3l": """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
       list_distinct([array_to_string(toks[i:i+3], ' ')
                      for i in generate_series(1, greatest(len(toks) - 3, 1))]) AS grams
FROM t
""",
}


def _emb_pairs_sql() -> str:
    """EMBEDDINGS family: the BANDED hyperplane-LSH near-dup pair oracle.
    Identical structure to the catalog's sf0.01 oracle (4 x 12-bit band
    codes, per-band equi-joins UNION'd, slacked-conservative coordinate
    prefilter in each arm, one exact precomputed-norm cosine per
    deduped candidate) — the banding is exactly what makes this oracle
    feasible at sf10: per-band candidates ~N^2/2^12 instead of the old
    single-16-bucket ~1.25e9-cosine self-join."""
    from etl_bigquery_pipeline_spark.plans.catalog_p2_llm_core import (
        _emb_near_dup_oracle_sql,
    )

    return _emb_near_dup_oracle_sql()


MATERIALIZATIONS["emb_pairs"] = _emb_pairs_sql()


def _sh_bits_sql(nibbles: int = 15) -> str:
    """DOCUMENTS family: per-doc SimHash bit-count table. The original
    oracle replays 4 * nibbles list_filter lambdas over every doc's
    full md5-prefix token list (60 x tokens bit tests per doc — the r10
    sf10 residual). This panel pays the token pass ONCE: unnest the
    md5 prefixes, extract each nibble's hex index in a projection, and
    take the 60 bit-population sums in a single streaming GROUP BY.
    The override's majority vote over the counts is then O(docs)."""
    hexs = "0123456789abcdef"
    nib_vals = ",\n         ".join(
        f"strpos('{hexs}', substring(h, {p + 1}, 1)) - 1 AS v{p}"
        for p in range(nibbles)
    )
    sums = ",\n       ".join(
        f"SUM((v{p} >> {j}) & 1) AS c{p}_{j}"
        for p in range(nibbles)
        for j in (3, 2, 1, 0)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
e0 AS (
  SELECT doc_id, len(toks) AS nt, unnest(toks) AS tok
  FROM t),
e AS (
  -- md5 on the FLAT column (vectorized), never inside a per-list
  -- comprehension (per-element lambda bounce — the hazard the r11
  -- emb_pairs build measured as ~150x)
  SELECT doc_id, nt, substring(md5(tok), 1, {nibbles}) AS h
  FROM e0),
n AS (
  SELECT doc_id, nt,
         {nib_vals}
  FROM e)
SELECT doc_id, any_value(nt) AS nt,
       {sums}
FROM n GROUP BY doc_id
"""


MATERIALIZATIONS["sh_bits"] = _sh_bits_sql()


def _simhash_override_sql(nibbles: int = 15) -> str:
    """simhash_fingerprints from the sh_bits panel: one majority vote
    per bit over the precomputed counts. The LEFT JOIN keeps docs whose
    token list is empty (they never reach the panel's unnest) with the
    all-zero fingerprint the original's 2*0 > 0 majority produces."""
    hexs = "0123456789abcdef"
    nib_exprs = []
    for p in range(nibbles):
        val = " + ".join(
            f"(CASE WHEN 2 * b.c{p}_{j} > b.nt THEN {1 << j} ELSE 0 END)"
            for j in (3, 2, 1, 0)
        )
        nib_exprs.append(f"substring('{hexs}', ({val}) + 1, 1)")
    concat = " || ".join(nib_exprs)
    zeros = "0" * nibbles
    return f"""
SELECT d.doc_id,
       CASE WHEN b.doc_id IS NULL THEN '{zeros}' ELSE {concat} END AS simhash
FROM documents d
LEFT JOIN read_parquet('{{mat}}/sh_bits.parquet') b ON b.doc_id = d.doc_id
"""

# the label-filtered %100 slice of the cos64 panel, inlined VERBATIM at
# every use site (a multi-referenced CTE would be materialized by
# DuckDB — 205M rows at sf10 — while textually separate subqueries each
# stream the parquet scan)
# The label inequality is wrapped in a CASE the optimizer cannot merge
# into a join condition: written as q.label <> c.label, DuckDB 1.0 folds
# it into the q-join, which then plans as a NESTED-LOOP join (164M x
# 200k rows — the actual r10 sf10 spill-to-disk-exhaustion, visible as
# NESTED_LOOP_JOIN in EXPLAIN). The CASE keeps both label attaches pure
# equi hash joins with the inequality as a post-join filter; the extra
# IS NULL arm reproduces <>'s NULL semantics exactly (NULL label rows
# are dropped, as a NULL comparison never passes a WHERE).
_HN_S = """(
  SELECT t.query_id, t.neighbor_id, t.sim64 AS sim,
         CAST(round(t.sim64 * 1000000) AS BIGINT) * 4398046511104
           + (4398046511104 - t.neighbor_id) AS k
  FROM read_parquet('{mat}/cos64.parquet') t
  JOIN (SELECT vec_id, label FROM embeddings) q ON q.vec_id = t.query_id
  JOIN (SELECT vec_id, label FROM embeddings) c ON c.vec_id = t.neighbor_id
  WHERE t.query_id % 100 = 0
    AND CASE WHEN q.label = c.label THEN 0
             WHEN q.label IS NULL OR c.label IS NULL THEN 0
             ELSE 1 END = 1)"""

_HARD_NEG_3PASS = f"""
WITH k1 AS (
  SELECT query_id, MAX(k) AS k FROM {_HN_S} s GROUP BY query_id),
k2 AS (
  SELECT s.query_id, MAX(s.k) AS k
  FROM {_HN_S} s JOIN k1 ON s.query_id = k1.query_id AND s.k < k1.k
  GROUP BY s.query_id),
k3 AS (
  SELECT s.query_id, MAX(s.k) AS k
  FROM {_HN_S} s JOIN k2 ON s.query_id = k2.query_id AND s.k < k2.k
  GROUP BY s.query_id)
SELECT s.query_id, s.neighbor_id, s.sim,
       CAST(CASE WHEN s.k = k1.k THEN 1
                 WHEN s.k = k2.k THEN 2
                 ELSE 3 END AS BIGINT) AS rnk
FROM {_HN_S} s
JOIN k1 ON s.query_id = k1.query_id
LEFT JOIN k2 ON s.query_id = k2.query_id
LEFT JOIN k3 ON s.query_id = k3.query_id
WHERE s.k >= coalesce(k3.k, k2.k, k1.k)
"""

# ---- member rewrites ----

OVERRIDE_SQL: dict[str, tuple[list[str], str]] = {
    "simhash_fingerprints": (["sh_bits"], _simhash_override_sql()),
    # GRAPH -----------------------------------------------------------
    "copurchase_pagerank_top20": (["edges"], """
WITH __e AS (SELECT u, v FROM read_parquet('{mat}/edges.parquet')),
__adj AS (SELECT u AS src, v AS dst FROM __e UNION ALL SELECT v AS src, u AS dst FROM __e),
__deg AS (SELECT src, COUNT(*) AS deg FROM __adj GROUP BY src),
p0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM __deg),
p1 AS (SELECT a.dst AS node, round(0.15 + 0.85 * SUM(p.pr / d.deg), 6) AS pr FROM __adj a JOIN __deg d ON a.src = d.src JOIN p0 p ON a.src = p.node GROUP BY a.dst),
p2 AS (SELECT a.dst AS node, round(0.15 + 0.85 * SUM(p.pr / d.deg), 6) AS pr FROM __adj a JOIN __deg d ON a.src = d.src JOIN p1 p ON a.src = p.node GROUP BY a.dst),
p3 AS (SELECT a.dst AS node, round(0.15 + 0.85 * SUM(p.pr / d.deg), 6) AS pr FROM __adj a JOIN __deg d ON a.src = d.src JOIN p2 p ON a.src = p.node GROUP BY a.dst)
SELECT node, pr, rnk FROM (SELECT node, pr, CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS BIGINT) AS rnk FROM p3) WHERE rnk <= 20
"""),
    "copurchase_triangles_doulion": (["edges"], """
WITH e AS (SELECT u, v FROM read_parquet('{mat}/edges.parquet')),
eh AS (SELECT u, v,
              substring(md5('tri:' || CAST(u AS VARCHAR) || ':'
                            || CAST(v AS VARCHAR)), 1, 8) AS h8
       FROM e),
s AS (SELECT u, v FROM eh WHERE (((strpos('0123456789abcdef', substring(h8, 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substring(h8, 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substring(h8, 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substring(h8, 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substring(h8, 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substring(h8, 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substring(h8, 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substring(h8, 8, 1)) - 1) * 1) % 10) < 2),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles_sampled
       FROM s e1 JOIN s e2 ON e2.u = e1.u AND e2.v > e1.v
                 JOIN s e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_edges_sampled,
       st.n_triangles_sampled,
       CAST(st.n_triangles_sampled * 125.0 AS DOUBLE) AS triangles_est
FROM st
"""),
    "degree_distribution_slope": (["edges"], """
WITH __e AS (SELECT u, v FROM read_parquet('{mat}/edges.parquet')),
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
"""),
    "deterministic_random_walks": (["edges"], """
WITH __e AS (SELECT u, v FROM read_parquet('{mat}/edges.parquet')),
__nodes AS (SELECT u AS node FROM __e UNION SELECT v FROM __e)
, __adj AS (SELECT u AS src, v AS nbr FROM __e UNION ALL SELECT v AS src, u AS nbr FROM __e), w0 AS (SELECT node AS walk_id, node FROM __nodes WHERE node % 500 = 0), c1 AS (SELECT w.walk_id, a.nbr, ROW_NUMBER() OVER (PARTITION BY w.walk_id ORDER BY md5('walk:' || CAST(w.walk_id AS VARCHAR) || ':1:' || CAST(w.node AS VARCHAR) || ':' || CAST(a.nbr AS VARCHAR)) ASC, a.nbr ASC) AS rn FROM w0 w JOIN __adj a ON w.node = a.src), w1 AS (SELECT walk_id, nbr AS node FROM c1 WHERE rn = 1), c2 AS (SELECT w.walk_id, a.nbr, ROW_NUMBER() OVER (PARTITION BY w.walk_id ORDER BY md5('walk:' || CAST(w.walk_id AS VARCHAR) || ':2:' || CAST(w.node AS VARCHAR) || ':' || CAST(a.nbr AS VARCHAR)) ASC, a.nbr ASC) AS rn FROM w1 w JOIN __adj a ON w.node = a.src), w2 AS (SELECT walk_id, nbr AS node FROM c2 WHERE rn = 1), c3 AS (SELECT w.walk_id, a.nbr, ROW_NUMBER() OVER (PARTITION BY w.walk_id ORDER BY md5('walk:' || CAST(w.walk_id AS VARCHAR) || ':3:' || CAST(w.node AS VARCHAR) || ':' || CAST(a.nbr AS VARCHAR)) ASC, a.nbr ASC) AS rn FROM w2 w JOIN __adj a ON w.node = a.src), w3 AS (SELECT walk_id, nbr AS node FROM c3 WHERE rn = 1) SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM w0 UNION ALL SELECT walk_id, CAST(1 AS BIGINT) AS step, node FROM w1 UNION ALL SELECT walk_id, CAST(2 AS BIGINT) AS step, node FROM w2 UNION ALL SELECT walk_id, CAST(3 AS BIGINT) AS step, node FROM w3
"""),
    "graph_negative_samples": (["edges", "negs"], """
SELECT probe, cand AS negative, rnk
FROM read_parquet('{mat}/negs.parquet')
"""),
    "embedding_near_dup_pairs": (["emb_pairs"], """
SELECT id_a, id_b, cosine_sim FROM read_parquet('{mat}/emb_pairs.parquet')
"""),
    # EMBEDDINGS ------------------------------------------------------
    "similarity_topk": (["cos64", "rank64"], """
SELECT query_id, neighbor_id, sim64 AS sim, rnk64 AS rnk
FROM read_parquet('{mat}/rank64.parquet')
WHERE query_id % 50 = 0 AND rnk64 <= 5
"""),
    "knn_distance_outliers": (["cos64", "rank64"], """
WITH m AS (
  SELECT query_id, round(AVG(sim64), 6) AS knn_sim
  FROM read_parquet('{mat}/rank64.parquet')
  WHERE rnk64 <= 5 GROUP BY query_id),
z AS (
  SELECT query_id, knn_sim,
         CAST(ROW_NUMBER() OVER (ORDER BY knn_sim ASC, query_id ASC)
              AS BIGINT) AS isolation_rank
  FROM m)
SELECT query_id, knn_sim, isolation_rank FROM z WHERE isolation_rank <= 5
"""),
    "ann_mrr_ndcg_eval": (["cos64", "rank64", "rank16"], """
WITH j AS (
  SELECT a.query_id, a.rnk16 AS ap_rank, e.rnk64 AS ex_rank
  FROM read_parquet('{mat}/rank16.parquet') a
  JOIN read_parquet('{mat}/rank64.parquet') e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  WHERE a.rnk16 <= 10),
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
"""),
    "truncated_dim_topk": (["cos64", "rank16"], """
WITH c AS (SELECT vec_id AS neighbor_id FROM embeddings),
cand AS (
  SELECT a.query_id, a.neighbor_id, s.sim64
  FROM read_parquet('{mat}/rank16.parquet') a
  JOIN read_parquet('{mat}/cos64.parquet') s
    ON a.query_id = s.query_id AND a.neighbor_id = s.neighbor_id
  WHERE a.rnk16 <= 5 * greatest(4, CAST(ceil(
          (SELECT count(*) FROM c) / 500.0) AS BIGINT))),
r2 AS (
  SELECT query_id, neighbor_id, sim64 AS sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY sim64 DESC, neighbor_id ASC) AS BIGINT) AS rnk
  FROM cand)
SELECT query_id, neighbor_id, sim, rnk FROM r2 WHERE rnk <= 5
"""),
    # top-3 different-label neighbors per probe. The first rewrite
    # windowed the label-filtered %100 slice of the full cos64 panel
    # (~205M rows at sf10) and DuckDB's window materialization spilled
    # past the disk; a rank64-prefix cut fails on clustered labels (a
    # probe's global top-1000 can be all same-label, pushing most
    # probes into the full-rescan fallback). The exact, spill-free
    # plan: encode (sim DESC, neighbor ASC) into ONE bigint key
    # (round(sim*1e6) in the high bits, 2^42 - neighbor below — both
    # exact integers) and take the per-probe top-3 by THREE max
    # passes, each a streaming hash aggregate over 512 groups (pass N
    # excludes keys >= the previous maxes). No sort, no window, no
    # materialized CTE; 4 streams of the panel scan total.
    "hard_negative_mining": (["cos64"], _HARD_NEG_3PASS),
    "semantic_decontamination": (["cos64"], """
WITH sims AS (
  SELECT query_id, neighbor_id, sim64
  FROM read_parquet('{mat}/cos64.parquet')
  WHERE query_id % 50 = 0),
m1 AS (
  SELECT neighbor_id AS vec_id, max(sim64) AS max_eval_sim
  FROM sims WHERE neighbor_id % 50 <> 0 OR neighbor_id >= 102400
  GROUP BY neighbor_id),
m2 AS (
  SELECT neighbor_id + 1000003 AS vec_id, max(sim64) AS max_eval_sim
  FROM sims WHERE neighbor_id % 100 = 0 AND neighbor_id < 102400
  GROUP BY neighbor_id)
SELECT vec_id, max_eval_sim
FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2) u
WHERE max_eval_sim >= 0.9
"""),
    # DOCUMENTS -------------------------------------------------------
    "ngram_jaccard_pairs": (["sh2", "pair_overlap"], """
SELECT id_a, id_b,
       round(inter / (len_a + len_b - inter), 6) AS jaccard_sim
FROM read_parquet('{mat}/pair_overlap.parquet')
WHERE round(inter / (len_a + len_b - inter), 6) >= 0.2
"""),
    "shingle_containment_pairs": (["sh2", "pair_overlap"], """
WITH po AS (SELECT * FROM read_parquet('{mat}/pair_overlap.parquet')),
dirs AS (
  SELECT id_a, id_b, inter, len_a FROM po
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b, inter, len_b AS len_a FROM po)
SELECT id_a, id_b,
       round(inter / CAST(len_a AS DOUBLE), 6) AS containment_a_in_b
FROM dirs WHERE round(inter / CAST(len_a AS DOUBLE), 6) >= 0.8
"""),
    "ngram_novelty_scores": (["sh2"], """
WITH sh AS (SELECT doc_id, s AS grams FROM read_parquet('{mat}/sh2.parquet')),
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
"""),
    "minhash_near_dup_pairs": (["mh_scored_p"], """
SELECT id_a, id_b, jaccard_sim
FROM read_parquet('{mat}/mh_scored_p.parquet')
WHERE jaccard_sim >= 0.6
"""),
    "lsh_false_positive_audit": (["mh_scored_p"], """
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN jaccard_sim >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_pairs,
       round(1.0 - SUM(CASE WHEN jaccard_sim >= 0.6 THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS fp_rate
FROM read_parquet('{mat}/mh_scored_p.parquet')
"""),
    "minhash_cluster_canonicals": (["mh_scored_p"], """
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM read_parquet('{mat}/mh_scored_p.parquet')
  WHERE jaccard_sim >= 0.6),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""),
    "minhash_cluster_size_histogram": (["mh_scored_p2"], """
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM read_parquet('{mat}/mh_scored_p2.parquet')
  WHERE jaccard_sim >= 0.6),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)
SELECT cluster_size, COUNT(*) AS n_clusters FROM (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM (
    SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node) comp
  GROUP BY cluster_id) sizes
GROUP BY cluster_size
"""),
    "leakage_safe_split": (["mh_scored_p"], """
WITH RECURSIVE docs AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id < 25),
pairs AS (
  SELECT id_a, id_b FROM read_parquet('{mat}/mh_scored_p.parquet')
  WHERE jaccard_sim >= 0.6),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node)
,
clusters AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
assigned AS (
  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS gkey
  FROM docs d LEFT JOIN clusters cl ON d.doc_id = cl.doc_id),
bkt AS (
  SELECT doc_id, gkey,
         substring(md5('split:' || CAST(gkey AS VARCHAR)), 1, 8) AS h
  FROM assigned),
vv AS (SELECT doc_id, gkey, ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substring(h, 8, 1)) - 1) * 1) % 10000 AS bucket FROM bkt),
ss AS (
  SELECT doc_id, gkey,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM vv),
leak AS (
  SELECT COUNT(*) AS n_span FROM (
    SELECT gkey FROM ss GROUP BY gkey
    HAVING COUNT(DISTINCT split) > 1))
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST((SELECT n_span FROM leak) AS BIGINT) AS n_spanning_clusters
FROM ss GROUP BY split
"""),
    "decontamination": (["g3l"], """
WITH g AS (SELECT doc_id, grams FROM read_parquet('{mat}/g3l.parquet')),
ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 100 = 0),
corp AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 100 <> 0),
sh AS (
  SELECT corp.doc_id, COUNT(*) AS n_shared
  FROM corp JOIN ev USING (gram) GROUP BY corp.doc_id)
SELECT d.doc_id,
       CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
       coalesce(sh.n_shared, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM g WHERE doc_id % 100 <> 0) d
LEFT JOIN sh USING (doc_id)
"""),
}


def get_overrides(mat_dir: str) -> dict[str, tuple[list[str], str]]:
    """Resolve the '{mat}' placeholder -> {name: (needed_keys, sql)}."""
    return {
        name: (keys, sql.replace("{mat}", mat_dir))
        for name, (keys, sql) in OVERRIDE_SQL.items()
    }


def get_materializations(mat_dir: str) -> dict[str, str]:
    """Ordered {key: SELECT ...} with '{mat}' resolved."""
    return {
        k: sql.replace("{mat}", mat_dir)
        for k, sql in MATERIALIZATIONS.items()
    }
