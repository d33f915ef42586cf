"""Similarity search: exact top-k ground truth + LSH recall/containment."""

from __future__ import annotations

import math

from etl_bigquery_pipeline_spark.operators import similarity


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [1.0, 0.01, 0.0, 0.0]),  # near-identical to 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact_ranking(spark):
    df = _vecs(spark)
    out = similarity.cosine_topk(
        df, df.filter("vec_id = 1"), k=2, id_col="vec_id"
    ).collect()
    ranked = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(5, 1), (2, 2)]
    sims = {r.neighbor_id: r.sim for r in out}
    assert math.isclose(sims[5], 1 / math.sqrt(1 + 0.01**2), rel_tol=1e-4)


def test_lsh_topk_subset_of_exact(spark):
    """LSH candidates are a subset of the corpus; every returned neighbor's
    sim must equal the exact computation (no approximation in scoring,
    only in candidate generation)."""
    df = _vecs(spark)
    q = df.filter("vec_id = 1")
    exact = {
        r.neighbor_id: r.sim
        for r in similarity.cosine_topk(df, q, k=4, id_col="vec_id").collect()
    }
    approx = similarity.lsh_cosine_topk(
        df, q, k=4, id_col="vec_id", dim=4, bits=2
    ).collect()
    for r in approx:
        assert r.sim == exact[r.neighbor_id]


def test_embedding_near_dup_finds_planted_pair(spark):
    df = _vecs(spark)
    pairs = similarity.embedding_near_dup_pairs(
        df, id_col="vec_id", threshold=0.99, dim=4, bands=2, band_bits=2
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 5) in found
    assert (1, 3) not in found  # orthogonal never passes threshold


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    from etl_bigquery_pipeline_spark.operators import pq
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq.train_pq(emb, m=8, k=16, seed=42)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert len(books[0][0]) == 8  # 64 dims / 8 subspaces
    # deterministic: same seed -> identical codebooks
    assert books == pq.train_pq(emb, m=8, k=16, seed=42)

    coded = pq.pq_encode(emb, books).collect()
    n = emb.count()
    assert len(coded) == n
    for r in coded[:20]:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
        assert r.vnorm > 0


def test_pq_topk_beats_code_scan_floor(spark, sf_dir):
    """Recall of PQ + exact rerank against brute force at small scale:
    the rerank makes returned scores exact, so every returned (query,
    neighbor) either matches the exact list or is a near-tie miss."""
    from etl_bigquery_pipeline_spark.operators import pq, similarity
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id % 50 = 0")
    exact = similarity.cosine_topk(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    )
    approx = pq.pq_topk(
        emb, queries, k=5, rerank=50, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", m=8, codebook_k=16, seed=42,
    )
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(ap & ex) / len(ex) >= 0.6


def test_truncated_prefilter_recall_and_determinism(spark, sf_dir):
    """Matryoshka-style 16/64-dim prefilter + exact rerank: candidates
    bound holds, results are deterministic across runs, returned sims are
    EXACT (full-dim) values, and recall clears the gate floor with room."""
    from etl_bigquery_pipeline_spark.operators import similarity
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id % 50 = 0")
    exact = similarity.cosine_topk(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    )
    approx = similarity.truncated_prefilter_topk(
        emb, queries, k=5, prefix_dims=16, candidate_factor=4,
        id_col="vec_id", vec_col="embedding", query_id_col="query_id",
    )
    rows = approx.collect()
    nq = queries.count()
    assert len(rows) == 5 * nq
    # exact rerank => any pair present in both lists carries the same sim
    ex = {(r.query_id, r.neighbor_id): r.sim for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id): r.sim for r in rows}
    for pair in ap.keys() & ex.keys():
        assert ap[pair] == ex[pair]
    # sf0.001 corpus is tiny and evenly-spread: 0.15 here, 0.42 at the
    # driver's sf0.01 (the catalog gate floor is 0.3)
    recall4 = len(ap.keys() & ex.keys()) / len(ex)
    assert recall4 >= 0.15
    # a larger candidate pool strictly contains the smaller one => recall
    # must be monotone in candidate_factor
    ap16 = {(r.query_id, r.neighbor_id)
            for r in similarity.truncated_prefilter_topk(
                emb, queries, k=5, prefix_dims=16, candidate_factor=16,
                id_col="vec_id", vec_col="embedding",
                query_id_col="query_id").collect()}
    recall16 = len(ap16 & ex.keys()) / len(ex)
    assert recall16 >= recall4
    again = {(r.query_id, r.neighbor_id): r.sim
             for r in similarity.truncated_prefilter_topk(
                 emb, queries, k=5, prefix_dims=16, candidate_factor=4,
                 id_col="vec_id", vec_col="embedding",
                 query_id_col="query_id").collect()}
    assert again == ap


def test_truncated_prefilter_full_prefix_equals_exact(spark, sf_dir):
    """prefix_dims = full dim and a candidate pool >= corpus must
    reproduce brute force exactly — the technique degrades to identity."""
    from etl_bigquery_pipeline_spark.operators import similarity
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id % 100 = 0")
    n = emb.count()
    exact = similarity.cosine_topk(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    )
    same = similarity.truncated_prefilter_topk(
        emb, queries, k=5, prefix_dims=64, candidate_factor=(n // 5) + 1,
        id_col="vec_id", vec_col="embedding", query_id_col="query_id",
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, same.collect()))


def test_hard_negatives_exclude_same_label(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "a"),
        (2, [0.99, 0.1, 0.0, 0.0], "a"),   # most similar overall — same label
        (3, [0.9, 0.2, 0.0, 0.0], "b"),    # hardest negative
        (4, [0.0, 1.0, 0.0, 0.0], "b"),
        (5, [0.0, 0.0, 1.0, 0.0], "c"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = similarity.hard_negatives(
        df, df.filter("vec_id = 1"), k=2, id_col="vec_id"
    ).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    # 2 (same label) must be skipped even though it is the nearest vector
    assert ranked == [3, 5] or ranked[0] == 3
    assert 2 not in ranked
    labels = {1: "a", 2: "a", 3: "b", 4: "b", 5: "c"}
    assert all(labels[r.neighbor_id] != "a" for r in out)


def test_semantic_decontaminate_paths_agree(spark, tmp_path):
    """Exact / LSH-prefiltered / persisted-index decontamination on a
    corpus with planted leaks: exact flags exactly the planted ids, the
    approximate paths flag a subset of exact (structural — the prefilter
    only drops candidates), and on exact-duplicate leaks (always
    bucket-identical) both recover everything."""
    import numpy as np

    from etl_bigquery_pipeline_spark.operators import ann_index

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 8)).astype("float32")
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    evals = [(1000 + i, base[i].tolist()) for i in range(5)]
    # corpus: 35 unrelated vectors + the 5 eval vectors leaked verbatim
    corpus = [(i, base[5 + i].tolist()) for i in range(35)] + [
        (500 + i, base[i].tolist()) for i in range(5)
    ]
    schema = "vec_id long, embedding array<float>"
    cdf = spark.createDataFrame(corpus, schema)
    edf = spark.createDataFrame(evals, schema)

    exact = similarity.semantic_decontaminate(
        cdf, edf, threshold=0.9, dim=8
    )
    got = {r.vec_id for r in exact.collect()}
    assert got == {500, 501, 502, 503, 504}

    lsh = similarity.semantic_decontaminate(
        cdf, edf, threshold=0.9, dim=8, prefilter="lsh", bits=4
    )
    lsh_ids = {r.vec_id for r in lsh.collect()}
    assert lsh_ids == got  # exact duplicates always share a bucket

    ann_index.build_lsh_index(
        cdf, "semdecon_unit_idx", dim=8, bits=4, seed=42
    )
    idx = similarity.semantic_decontaminate(
        None, edf, threshold=0.9, index_table="semdecon_unit_idx"
    )
    assert {r.vec_id for r in idx.collect()} == got


def test_semantic_decontaminate_zero_norm_never_flagged(spark):
    """A zero-norm vector, in the corpus or in the eval set, has no cosine:
    no path flags it and none raises (a bare division by its zero norm is
    DIVIDE_BY_ZERO under ANSI mode). The zero vectors share a bucket, so
    the LSH and index paths score the zero-zero pair too."""
    from etl_bigquery_pipeline_spark.operators import ann_index

    schema = "vec_id long, embedding array<float>"
    cdf = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])], schema
    )
    edf = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])], schema
    )
    ann_index.build_lsh_index(cdf, "semdecon_zero_idx", dim=4, bits=2, seed=42)
    try:
        paths = {
            "exact": similarity.semantic_decontaminate(
                cdf, edf, threshold=0.9, dim=4
            ),
            "lsh": similarity.semantic_decontaminate(
                cdf, edf, threshold=0.9, dim=4, prefilter="lsh", bits=2
            ),
            "index": similarity.semantic_decontaminate(
                None, edf, threshold=0.9, index_table="semdecon_zero_idx"
            ),
        }
        for name, flagged in paths.items():
            got = {r.vec_id: r.max_eval_sim for r in flagged.collect()}
            assert got == {1: 1.0}, name
    finally:
        spark.sql("DROP TABLE IF EXISTS semdecon_zero_idx")
        spark.sql("DROP TABLE IF EXISTS semdecon_zero_idx__meta")
