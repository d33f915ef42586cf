"""Product quantization (PQ) for embedding search: compress vectors to
m small codes, scan the codes, rerank survivors exactly.

Why it matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code (m=8 subspaces, k=16 centroids) is 8 nibbles. An approximate
scan over codes reads ~1/50th of the bytes of a brute-force scan — the
standard memory-bandwidth play (FAISS's IVFPQ without the IVF part; the
cell-pruning dimension already exists independently in
``similarity.ivf_cosine_topk`` and composes with this).

Pipeline (all JVM-side expressions, no Python in the scan):
1. ``train_pq`` — per-subspace k-means on a bounded ordered sample,
   driver-side (the sanctioned model-fitting step, same policy as
   ``similarity.train_centroids``); deterministic via fixed seed/iters.
2. ``pq_encode`` — one narrow projection: argmin centroid per subspace
   (L2, via the max-struct trick) + the vector's true norm.
3. ``pq_topk`` — ADC (asymmetric distance computation): each query
   precomputes a (m x k) lookup table of subspace dot products, the scan
   sums m ``element_at`` lookups per (query, code) pair, takes the
   ``rerank`` best approximate candidates per query, and reranks JUST
   those with exact cosine. Everything between the code scan and the
   final top-k shuffles only (query_id, id, score) rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions.vectors import norm
from etl_bigquery_pipeline_spark.operators.partitioning import (
    widen_if_narrow,
)
from etl_bigquery_pipeline_spark.operators.similarity import (
    corpus_side,
    query_side,
    rank_by_cosine,
)


def train_pq(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: ``m`` lists of ``k`` centroids, each of
    dim/m floats. Deterministic (seeded init, fixed iterations, id-ordered
    sample) so encodings are reproducible run-over-run."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rs = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        cent = xj[rs.choice(len(xj), size=min(k, len(xj)), replace=False)]
        for _ in range(iters):
            d = ((xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cent)):
                members = xj[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent.round(6).tolist())
    return books


def _dbl(x: float) -> str:
    """A SQL double literal that round-trips exactly (string cast)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sub_code(vec_col_name: str, codebook: list[list[float]], j: int, sub: int):
    """Index of the L2-nearest centroid for subspace ``j`` (argmin of
    |v-c|^2 == argmax of 2<v,c> - |c|^2; ties -> lowest index).

    Built as ONE SQL transform over a literal 2-D centroid array rather
    than k separate python-composed dot trees: the expression tree is
    O(1) in k, which keeps plan construction/analysis flat as codebooks
    grow (k=256 is the standard PQ setting at scale)."""
    cb = "array(" + ",".join(
        "array(" + ",".join(_dbl(x) for x in c) + ")" for c in codebook
    ) + ")"
    n2 = "array(" + ",".join(
        _dbl(sum(x * x for x in c)) for c in codebook
    ) + ")"
    return F.expr(
        f"""
        array_max(transform(sequence(0, {len(codebook) - 1}), i -> struct(
          CAST(2 AS DOUBLE) * aggregate(
            zip_with(slice({vec_col_name}, {j * sub + 1}, {sub}),
                     element_at({cb}, i + 1),
                     (x, y) -> CAST(x AS DOUBLE) * y),
            CAST(0 AS DOUBLE), (acc, v) -> acc + v)
          - element_at({n2}, i + 1) AS s,
          -i AS ni,
          i AS i))).i
        """
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, vnorm) — the compact searchable form. One
    narrow projection over the corpus; no shuffle."""
    m = len(codebooks)
    dim = m * len(codebooks[0][0])
    sub = dim // m
    return corpus.select(
        F.col(id_col),
        F.array(
            *[_sub_code(vec_col, codebooks[j], j, sub) for j in range(m)]
        ).alias("codes"),
        norm(vec_col).alias("vnorm"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    m: int = 8,
    codebook_k: int = 16,
    sample_n: int = 2048,
    seed: int = 42,
    sim_decimals: int = 6,
) -> DataFrame:
    """Approximate cosine top-k via PQ codes + exact rerank.

    ADC scoring: <q, v> ~= sum_j <q_j, centroid_{j, code_j(v)}>. Each
    query ships its (m x k) dot-product lookup table as literals; the
    code scan does m element_at lookups per pair. The top ``rerank``
    approximate candidates per query join back to the real vectors for
    exact cosine — so returned scores are exact, and recall is the only
    approximation (gated in the catalog)."""
    # Widen before encoding: the ADC scan and the rerank projection fuse
    # into the corpus scan stage, and a badly-laid-out upstream file (one
    # parquet row group = one effective split, however many byte-range
    # splits the planner makes) would otherwise serialize the whole
    # N x Q score scan into a single task — measured at sf10, where the
    # single-row-group embeddings file pinned 410M ADC lookups on one
    # core (similarity.py paths already widen; this was the one gap).
    corpus = widen_if_narrow(corpus, id_col)
    books = train_pq(
        corpus,
        vec_col=vec_col,
        id_col=id_col,
        m=m,
        k=codebook_k,
        sample_n=sample_n,
        seed=seed,
    )
    coded = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    # the query batch is driver-small by the same policy that broadcasts
    # it everywhere else in this module; each query's (m x k) ADC lookup
    # table ships as DATA on a broadcast side (never as plan literals —
    # the plan stays O(m) however many queries arrive), and ONE scan over
    # the codes emits every (query, approx-score) pair
    q_rows = queries.select(id_col, vec_col).collect()
    lut_rows = []
    for r in q_rows:
        qv = np.array(list(r[1]), dtype=np.float64)
        sub = len(qv) // m
        qnorm = float(np.sqrt((qv * qv).sum())) or 1.0
        lut = [
            [
                float(np.dot(qv[j * sub : (j + 1) * sub], np.array(c)))
                / qnorm
                for c in books[j]
            ]
            for j in range(m)
        ]
        lut_rows.append((int(r[0]), lut))
    # single slice (see operators/localrel.py): the LUT is a few dozen
    # rows; nested-array values stay on createDataFrame's row path
    lut_df = queries.sparkSession.createDataFrame(
        queries.sparkSession.sparkContext.parallelize(lut_rows, 1),
        "__qid bigint, __lut array<array<double>>",
    )
    score = sum(
        F.element_at(
            F.element_at("__lut", j + 1), F.col("codes")[j] + 1
        )
        for j in range(m)
    )
    scans = (
        coded.select(F.col(id_col).alias("neighbor_id"), "vnorm", "codes")
        .crossJoin(F.broadcast(lut_df))
        .select(
            F.col("__qid").alias(query_id_col),
            "neighbor_id",
            F.try_divide(score, F.col("vnorm")).alias("__approx"),
        )
        .filter(F.col("neighbor_id") != F.col(query_id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__approx").desc(), F.col("neighbor_id").asc()
    )
    cands = (
        scans.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rerank)
        .select(query_id_col, "neighbor_id")
    )

    pairs = cands.join(corpus_side(corpus, id_col, vec_col), "neighbor_id").join(
        F.broadcast(query_side(queries, id_col, vec_col, query_id_col)),
        query_id_col,
    )
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )
