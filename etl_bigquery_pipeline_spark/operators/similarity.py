"""Similarity search over embedding columns (north-star tier).

Every cosine top-k in the engine is one plan with a different candidate
join: ``query_side``/``corpus_side`` project (id, vector, norm) once per
row, the caller joins them its own way, and ``rank_by_cosine`` scores the
pairs (rounded ``try_divide`` cosine — a zero-norm vector scores NULL and
ranks last) and keeps each query's k best by (sim desc, neighbor_id asc),
a total order that is engine-reproducible. The candidate joins:

- ``cosine_topk``: exact brute force — the (small) query set broadcast
  against every corpus row. The correctness baseline; at 100 TB it is one
  corpus scan per query batch with no corpus shuffle.
- ``lsh_cosine_topk``: random-hyperplane LSH — corpus and queries joined
  on sign-pattern bucket, queries exploded to their multi-probe codes.
  Trades recall for a candidate set ~(bits+1)/2^bits of the corpus.
- ``ivf_cosine_topk``: corpus cells by nearest trained centroid, queries
  probe their ``nprobe`` nearest cells.
- ``truncated_prefilter_topk``: exact top-k on a dimension prefix picks
  the candidates, the full vectors rerank them.
- ``hard_negatives``: exact, restricted to pairs whose labels differ.

The persisted-index probes (operators/ann_index.py) and the PQ rerank
(operators/pq.py) hand their candidate pairs to the same
``rank_by_cosine``. Hyperplanes are generated driver-side from a fixed
seed (numpy RandomState), shipped as literal arrays — deterministic
across runs and engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions.vectors import dot, norm
from etl_bigquery_pipeline_spark.operators.band_index_core import read_meta
from etl_bigquery_pipeline_spark.operators.caching import scoped_cache
from etl_bigquery_pipeline_spark.operators.partitioning import widen_if_narrow


def query_side(
    queries: DataFrame, id_col: str, vec_col: str, query_id_col: str, *extra
) -> DataFrame:
    """(query_id_col, __qvec, __qnorm, *extra): the query half of a cosine
    top-k. Norms are per-vector, so they are computed here once per row
    and each pair costs one dot product."""
    return queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
        *extra,
    )


def corpus_side(corpus: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """(neighbor_id, __cvec, __cnorm, *extra): the corpus half of a cosine
    top-k."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
        *extra,
    )


def rank_by_cosine(
    pairs: DataFrame, *, k: int, query_id_col: str, sim_decimals: int
) -> DataFrame:
    """Score joined query_side x corpus_side pairs and keep each query's
    top k: (query_id_col, neighbor_id, sim, rank).

    ``sim`` is the cosine rounded to ``sim_decimals``, ranked by (sim
    desc, neighbor_id asc) so results are total-ordered and
    engine-reproducible. A zero-norm vector has no cosine: ``try_divide``
    gives NULL sim, which ranks after every scored neighbor."""
    sim = F.round(
        F.try_divide(
            dot(F.col("__qvec"), F.col("__cvec")),
            F.col("__qnorm") * F.col("__cnorm"),
        ),
        sim_decimals,
    ).alias("sim")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(query_id_col, "neighbor_id", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "sim", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, sim, rank), self-matches excluded.

    ``queries`` is expected to be small (it is broadcast); ``corpus`` is
    scanned once. Ranking uses the rounded similarity with neighbor-id
    tie-break, so results are total-ordered and engine-reproducible.
    """
    # Widen the corpus before scoring: small inputs arrive as one file
    # split and the per-pair dot products would run single-task (no-op on
    # wide at-scale inputs — no corpus shuffle at 100 TB).
    q = query_side(queries, id_col, vec_col, query_id_col)
    c = corpus_side(widen_if_narrow(corpus, id_col), id_col, vec_col)
    pairs = c.join(F.broadcast(q), F.col(query_id_col) != F.col("neighbor_id"))
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )


def recall_ok(exact: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    """One boolean row ``recall_ok``: does ``approx`` recover at least
    ``floor`` of ``exact``'s (query_id, neighbor_id) pairs — the
    ``rank_by_cosine`` output both top-k arms share."""
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1))
    return (
        ex.join(ap, ["query_id", "neighbor_id"], "left")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
            ).alias("__recall")
        )
        .select((F.col("__recall") >= floor).alias("recall_ok"))
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rs = np.random.RandomState(seed)
    return rs.standard_normal((bits, dim)).round(6).tolist()


def hyperplane_bucket(
    vec_col, *, dim: int, bits: int = 8, seed: int = 42
):
    """Sign-pattern LSH bucket id (string of 0/1) for an embedding column."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _hyperplanes(dim, bits, seed)
    bit_cols = []
    for plane in planes:
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        d = dot(col, lit_plane)
        bit_cols.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bit_cols)


def probe_buckets(bucket, *, bits: int, max_flips: int = 1):
    """Multi-probe expansion: the bucket code plus every code within
    Hamming distance ``max_flips`` (1 flip -> bits+1 probes)."""
    col = F.col(bucket) if isinstance(bucket, str) else bucket
    probes = [col]
    if max_flips >= 1:
        for i in range(bits):
            flipped = F.when(
                F.substring(col, i + 1, 1) == "1", F.lit("0")
            ).otherwise(F.lit("1"))
            probes.append(
                F.concat(F.substring(col, 1, i), flipped, F.substring(col, i + 2, bits - i - 1))
            )
    return F.array(*probes)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits: int = 4,
    seed: int = 42,
    sim_decimals: int = 6,
    probe_flips: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    neighborhood (multi-probe: own bucket + every bucket ``probe_flips``
    bit-flips away — single-probe recall on weakly-clustered data is only
    ~1/2^bits; one flip lifts it to ~(bits+1)/2^bits).

    The bucket join shuffles on a <=bits-char key; at scale the corpus is
    written bucketed-by(bucket), queries explode to their probe set, and no
    corpus shuffle happens at all — that persisted path is
    operators/ann_index.build_lsh_index / probe_lsh_index (probe results
    are value-identical to this operator at equal parameters).
    """
    bucket = lambda d: hyperplane_bucket(vec_col, dim=dim, bits=bits, seed=seed)  # noqa: E731
    # bits x dim dot products per corpus row for the bucket code — widen
    # the scan before computing (one-split small inputs otherwise
    # serialize the whole projection; wide inputs pass through untouched).
    c = corpus_side(
        widen_if_narrow(corpus, id_col), id_col, vec_col,
        bucket(corpus).alias("__bucket"),
    )
    q = query_side(
        queries, id_col, vec_col, query_id_col,
        F.explode(
            probe_buckets(
                bucket(queries), bits=bits, max_flips=probe_flips
            )
        ).alias("__bucket"),
    )
    pairs = c.join(F.broadcast(q), "__bucket").filter(
        F.col(query_id_col) != F.col("neighbor_id")
    )
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )


def near_dup_cbound(threshold: float) -> float:
    """Conservative per-coordinate prefilter bound for unit vectors.

    cos(u,w) >= t implies ||u-w||^2 = 2(1-cos) <= 2(1-t), hence
    |u_k - w_k| <= sqrt(2(1-t)) for EVERY normalized coordinate. The
    output filter keeps pairs by ROUNDED cosine (round(sim, 6) >= t), so
    a pair with true cosine in [t - 5e-7, t) must also survive the
    prefilter: slack the bound by the rounding half-width (1e-6 under
    the sqrt) plus 1e-9 absolute for FP noise on the normalized-
    coordinate subtraction, making it strictly conservative w.r.t. the
    rounded-sim filter (r10 ADVICE)."""
    return float(((2.0 * (1.0 - threshold) + 1.000001e-6) ** 0.5) + 1e-9)


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    bands: int = 4,
    band_bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED hyperplane LSH:
    pairs that collide in at least one of ``bands`` independent
    ``band_bits``-bit sign-pattern codes and have cosine >= threshold
    (id_a < id_b).

    Why banded (r10 verdict): a single coarse code (the old 4-bit /
    16-bucket variant) bounds candidate reduction to 2^bits x, so
    within-bucket pair volume grows quadratically with the corpus — the
    r10 sf10 sweep measured it as a 720s timeout (~1.25e9 pair dots).
    B independent fine codes cut per-band candidates to ~N^2/2^band_bits
    while the union of band collisions keeps recall UP (a 0.99-cosine
    pair agrees per bit w.p. ~0.955: one 4-bit code finds it w.p. 0.83;
    4 x 12-bit bands w.p. 0.97) — the same pigeonhole-band structure
    ``near_dup_images`` uses for dHash (multimodal/binary_ops.py).

    Plan shape: explode each row to (id, band, code) — B small rows, the
    64-float vector is NOT carried — self-join on (band, code) (a
    high-cardinality key: bands * 2^band_bits values, no salting
    needed), distinct the candidate pairs, then join the (id, vec, norm)
    projection back on each side for the exact-dot verify. An exact
    per-coordinate prefilter inside the band join rejects most
    candidates before they reach the verify joins."""
    cbound = near_dup_cbound(threshold)
    wide = widen_if_narrow(df, id_col)
    nrm = norm(vec_col)
    codes = wide.select(
        F.col(id_col),
        F.try_divide(F.element_at(vec_col, 1).cast("double"), nrm).alias("__nv1"),
        F.try_divide(F.element_at(vec_col, 2).cast("double"), nrm).alias("__nv2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        hyperplane_bucket(
                            vec_col, dim=dim, bits=band_bits, seed=seed + i
                        ).alias("code"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__bc"),
    ).select(
        id_col,
        "__nv1",
        "__nv2",
        F.col("__bc.band").alias("__band"),
        F.col("__bc.code").alias("__code"),
    ).transform(scoped_cache)
    # cached: the self-join consumes the band codes on BOTH sides and no
    # ReusedExchange fires across the l/r aliases (the r11 plan audit
    # counted 16 parquet scans) — uncached, the bands x band_bits
    # hyperplane dots per row run twice; same for the verify projection
    # below, consumed by both pair sides (rows are a few dozen bytes —
    # the same narrow-projection cache trade as the minhash shingle
    # frame)
    # Every join side below is CORPUS-PROPORTIONAL (exploded band rows,
    # candidate pairs, the vector projection), so all three joins are
    # merge-pinned: planner/AQE size estimates on compressed shuffle
    # bytes have hash-built corpus-sized sides on the driver before (the
    # r8 minhash verify-join incident) — never let these broadcast.
    cand = (
        codes.alias("l").hint("merge")
        .join(
            codes.alias("r").hint("merge"),
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__code") == F.col("r.__code"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & (F.abs(F.col("l.__nv1") - F.col("r.__nv1")) <= F.lit(cbound))
            & (F.abs(F.col("l.__nv2") - F.col("r.__nv2")) <= F.lit(cbound)),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    v = scoped_cache(
        wide.select(
            F.col(id_col), F.col(vec_col).alias("__v"), nrm.alias("__norm")
        )
    )
    sim = F.round(
        F.try_divide(
            dot(F.col("va.__v"), F.col("vb.__v")),
            F.col("va.__norm") * F.col("vb.__norm"),
        ),
        6,
    ).alias("cosine_sim")
    return (
        cand.hint("merge")
        .join(v.alias("va").hint("merge"), F.col("id_a") == F.col(f"va.{id_col}"))
        .join(v.alias("vb").hint("merge"), F.col("id_b") == F.col(f"vb.{id_col}"))
        .select("id_a", "id_b", sim)
        .filter(F.col("cosine_sim") >= threshold)
    )


# ------------------------------------------------------------------ IVF ---


def train_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic k-means centroids from a bounded, ordered sample.

    Driver-side training on <= sample_n vectors (the one sanctioned
    driver-side step: model fitting on a sample, like any ML pipeline);
    fixed seed + fixed iteration count + id-ordered sample make the
    centroids reproducible run-over-run.
    """
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    rs = np.random.RandomState(seed)
    centroids = x[rs.choice(len(x), size=min(nlist, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(centroids)):
            members = x[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids.round(6).tolist()


def _nearest_centroids(vec_col, centroids: list[list[float]], n: int):
    """Indices of the n nearest centroids (by dot product, desc; index asc
    tie-break) as an array column."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    scored = F.array(
        *[
            F.struct(
                dot(col, F.array(*[F.lit(float(v)) for v in c])).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.reverse(F.array_sort(scored))  # by (d, i) asc -> reversed
    return F.transform(F.slice(ranked, 1, n), lambda s: s["i"])


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    sample_n: int = 2048,
    seed: int = 42,
    sim_decimals: int = 6,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest trained
    centroid, queries probe their ``nprobe`` nearest cells.

    The scale shape: corpus is written partitioned/bucketed by cell id, so
    a query batch touches nprobe/nlist of the data with no corpus shuffle
    — that persisted path is operators/ann_index.build_ivf_index /
    probe_ivf_index (value-identical probes, centroids persisted in the
    index meta table). Expected recall beats random-hyperplane LSH at
    equal candidate budget because cells follow the data distribution.
    """
    # widen before the cell-assignment/scoring projections: a narrow
    # (or single-row-group) scan would otherwise run the whole per-pair
    # compute in one task (see widen_if_narrow's sf10 caveat)
    corpus = widen_if_narrow(corpus, id_col)
    centroids = train_centroids(
        corpus,
        vec_col=vec_col,
        id_col=id_col,
        nlist=nlist,
        sample_n=sample_n,
        seed=seed,
    )
    c = corpus_side(
        corpus, id_col, vec_col,
        F.element_at(_nearest_centroids(vec_col, centroids, 1), 1).alias("__cell"),
    )
    q = query_side(
        queries, id_col, vec_col, query_id_col,
        F.explode(_nearest_centroids(vec_col, centroids, nprobe)).alias("__cell"),
    )
    pairs = c.join(F.broadcast(q), "__cell").filter(
        F.col(query_id_col) != F.col("neighbor_id")
    )
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )


def truncated_prefilter_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    prefix_dims: int = 16,
    candidate_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    sim_decimals: int = 6,
) -> DataFrame:
    """Matryoshka-style two-stage top-k: cheap prefilter on a dimension
    PREFIX, exact rerank on the full vector for candidates only.

    Stage 1 scores cosine on ``slice(vec, 1, prefix_dims)`` — the
    corpus-scan dot-product work drops to prefix_dims/dim of brute force —
    and keeps ``candidate_factor * k`` candidates per query (rounded-sim
    + neighbor-id total order, engine-reproducible). Stage 2 joins only
    those candidate pairs back to the full vectors (candidate set is
    query-batch-bounded, so it broadcasts; the corpus is never shuffled)
    and reranks exactly.

    Works when the embedding's leading dimensions carry most of the
    signal — true by construction for Matryoshka-trained embeddings and
    approximately for PCA'd ones. Fully deterministic given the inputs, so
    the whole two-stage trajectory is SQL-replayable (see
    truncated_dim_topk in plans/catalog.py) — unlike LSH/IVF whose quality
    is gated statistically instead.
    """
    pre = F.slice(F.col(vec_col), 1, prefix_dims)
    cand = cosine_topk(
        corpus.select(F.col(id_col), pre.alias(vec_col)),
        queries.select(F.col(id_col), pre.alias(vec_col)),
        k=candidate_factor * k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        sim_decimals=sim_decimals,
    ).select(query_id_col, "neighbor_id")
    q = query_side(queries, id_col, vec_col, query_id_col)
    c = corpus_side(corpus, id_col, vec_col)
    pairs = c.join(F.broadcast(cand), "neighbor_id").join(
        F.broadcast(q), query_id_col
    )
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    sim_decimals: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors whose LABEL DIFFERS
    from the query's (the classic in-batch-negatives upgrade — the
    negatives that look most like positives are the informative ones).

    Same execution shape as cosine_topk: queries broadcast with
    precomputed norms, corpus scanned once (never shuffled), the label
    inequality fused into the join predicate so same-label pairs are
    dropped before the dot product is even evaluated. Ranking is on the
    rounded similarity with neighbor-id tie-break (total order,
    engine-reproducible). At 100 TB the per-executor cost is
    |queries| dot products per corpus row — batch the query set if it
    outgrows a broadcast."""
    q = query_side(
        queries, id_col, vec_col, query_id_col, F.col(label_col).alias("__qlab")
    )
    c = corpus_side(
        widen_if_narrow(corpus, id_col), id_col, vec_col,
        F.col(label_col).alias("__clab"),
    )
    pairs = c.join(F.broadcast(q), F.col("__qlab") != F.col("__clab"))
    return rank_by_cosine(
        pairs, k=k, query_id_col=query_id_col, sim_decimals=sim_decimals
    )


def semantic_decontaminate(
    corpus: DataFrame | None,
    evals: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    prefilter: str | None = None,
    bits: int = 4,
    seed: int = 42,
    max_flips: int = 1,
    index_table: str | None = None,
    sim_decimals: int = 6,
) -> DataFrame:
    """Flag corpus vectors whose max cosine vs ANY eval vector meets
    ``threshold`` — embedding-space benchmark decontamination (the
    semantic companion to n-gram decontamination: a paraphrased eval
    leak shares no 13-gram but still sits next to its source in
    embedding space). Returns (id_col, max_eval_sim).

    Three candidate strategies, one contract:

    - ``prefilter=None`` (default, EXACT): eval set broadcast, corpus
      scanned once, per-row max folded map-side — the corpus never
      shuffles, so the pass costs one scan at any corpus size. Right
      whenever the eval set fits a broadcast (benchmark eval sets are
      bounded by construction), and the recall baseline for the rest.
    - ``prefilter="lsh"``: hyperplane-bucket the corpus map-side (no
      shuffle — the bucket is a projected expression), explode each
      eval vector to its multi-probe codes (own bucket + every
      ``max_flips``-flip neighbor), broadcast-join on the code. Each
      corpus row is scored only against evals probing its bucket:
      ~ (bits+1)/2^bits of the eval set instead of all of it. Flags
      are a strict SUBSET of the exact flags (the final threshold is
      the exact cosine; the prefilter only drops candidates) — recall
      is the only loss, gated in plans/catalog.py
      (semantic_decon_prefilter_gate), same discipline as
      lsh_recall_vs_exact.
    - ``index_table``: candidates from a PERSISTED LSH index
      (operators/ann_index.build_lsh_index) instead of re-hashing the
      corpus: eval probe codes are collected driver-side (bounded —
      |evals|×(bits+1) short strings) and pushed into the scan as
      bucket pruning, so non-matching bucket files are never read.
      The daily shape when the same corpus is decontaminated against
      rotating eval sets: hash the corpus once, probe per eval set.

    At 100 TB: every path scans the corpus at most once with zero
    corpus shuffle; eval-side work is broadcast. Choose exact for a
    one-shot sweep, the index for repeated sweeps, the inline LSH
    prefilter when the eval set is large enough that |corpus|×|evals|
    dot products dominate (the broadcast-join fan-out drops by
    ~2^bits/(bits+1)).
    """
    e_base = evals.select(
        F.col(vec_col).alias("__ev"), norm(vec_col).alias("__en")
    )
    sim = F.round(
        F.try_divide(
            dot(F.col(vec_col), F.col("__ev")), F.col("__cn") * F.col("__en")
        ),
        sim_decimals,
    )

    if index_table is not None:
        spark = evals.sparkSession
        meta = read_meta(
            spark, index_table, "lsh", reader="semantic_decontaminate probes"
        )
        dim, bits, seed = meta["dim"], meta["bits"], meta["seed"]
        e = evals.select(
            F.col(vec_col).alias("__ev"),
            norm(vec_col).alias("__en"),
            F.explode(
                probe_buckets(
                    hyperplane_bucket(
                        vec_col, dim=dim, bits=bits, seed=seed
                    ),
                    bits=bits,
                    max_flips=max_flips,
                )
            ).alias("bucket"),
        )
        codes = sorted({r.bucket for r in e.select("bucket").collect()})
        c = (
            spark.table(index_table)
            .filter(F.col("bucket").isin(codes))
            .select(
                F.col("neighbor_id").alias(id_col),
                F.col("vec").alias(vec_col),
                F.col("vnorm").alias("__cn"),
                "bucket",
            )
        )
        scored = c.join(F.broadcast(e), "bucket")
    elif prefilter == "lsh":
        e = evals.select(
            F.col(vec_col).alias("__ev"),
            norm(vec_col).alias("__en"),
            F.explode(
                probe_buckets(
                    hyperplane_bucket(
                        vec_col, dim=dim, bits=bits, seed=seed
                    ),
                    bits=bits,
                    max_flips=max_flips,
                )
            ).alias("__bkt"),
        )
        c = widen_if_narrow(corpus, id_col).select(
            id_col,
            vec_col,
            norm(vec_col).alias("__cn"),
            hyperplane_bucket(vec_col, dim=dim, bits=bits, seed=seed).alias(
                "__bkt"
            ),
        )
        scored = c.join(F.broadcast(e), "__bkt")
    elif prefilter is None:
        c = widen_if_narrow(corpus, id_col).select(
            id_col, vec_col, norm(vec_col).alias("__cn")
        )
        scored = c.join(F.broadcast(e_base))
    else:
        raise ValueError(f"unknown prefilter {prefilter!r}")

    return (
        scored.groupBy(id_col)
        .agg(F.max(sim).alias("max_eval_sim"))
        .filter(F.col("max_eval_sim") >= threshold)
    )
