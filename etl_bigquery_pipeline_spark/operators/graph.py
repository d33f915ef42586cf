"""Graph analytics on DataFrames: triangle counting with degree-ordered
orientation (the MapReduce-era standard — Suri & Vassilvitskii 2011,
public — expressed as two Catalyst joins).

Why orientation matters at 100 TB: counting each triangle once via plain
id-ordering (u<v<w) fans every hub vertex's edge list into O(deg^2)
wedges — a power-law hub with 10^6 neighbors creates 10^12 wedge rows.
Orienting every edge from its (degree, id)-SMALLER endpoint to the
larger one caps out-degree at O(sqrt(m)), so the wedge join is bounded
by m^1.5 total work regardless of skew — the difference between a job
that finishes and one that dies on the first hub.

Both stages are ordinary shuffle hash joins on vertex keys; AQE handles
residual skew. Counts are integers — exact oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions.text import hex8_to_int
from etl_bigquery_pipeline_spark.operators.caching import scoped_cache
from etl_bigquery_pipeline_spark.operators.localrel import literal_frame


def undirected_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Canonicalize to distinct (u, v) with u < v (self-loops dropped)."""
    return (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def cooccurrence_pairs(
    items: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """(pa, pb) with pa < pb, one row per group co-occurrence (pair
    multiplicity = number of groups containing both items) — the input
    shape of every co-purchase graph build.

    Replaces the group-keyed self-join: one groupBy collects each
    group's distinct items into a sorted array (bounded by group size —
    TPC-H orders hold a handful of parts) and expands the C(k,2) pairs
    in-row, so the item table shuffles ONCE instead of twice and the
    join's sort/hash-build disappears (measured 1.5x faster at sf0.1,
    same 1,196,000-edge output). The expansion lambdas are interpreted
    per element, but k is tiny; for data with unbounded group sizes a
    per-group cap (or the join form) is the scale path."""
    # collect_set dedups within the group, so no pre-distinct: the item
    # table shuffles ONCE (the r11 pass removed the redundant distinct's
    # extra exchange — guide §2.4)
    lists = (
        items.select(group_col, item_col)
        .groupBy(group_col)
        .agg(F.sort_array(F.collect_set(item_col)).alias("__is"))
    )
    return lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("__is")),
                    lambda i: F.transform(
                        F.slice(F.col("__is"), i + 1, F.size("__is") - i),
                        lambda x: F.struct(
                            F.element_at(F.col("__is"), i).alias("pa"),
                            x.alias("pb"),
                        ),
                    ),
                )
            )
        ).alias("__p")
    ).select(F.col("__p.pa").alias("pa"), F.col("__p.pb").alias("pb"))


def orient_by_degree(
    edges: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(src, dst): each undirected edge directed from its (degree, id)-
    smaller endpoint — a total order, so every edge gets exactly one
    direction and out-degrees are O(sqrt(m))-bounded. ``carry`` names
    extra per-edge columns to keep on the oriented row (e.g. a sample
    flag)."""
    # both endpoints from one pass (explode) — a union of two selects
    # would consume the edge lineage twice when the caller has not
    # cached it
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnsRenamed({"n": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"n": "v", "d": "dv"}), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        *[F.col(c) for c in carry],
    )


def _oriented_adjacency(oriented: DataFrame) -> DataFrame:
    """(src, nbrs): each vertex's out-neighbor array on the oriented
    graph. Orientation bounds out-degree at O(sqrt(m)), so the arrays —
    and hence per-row memory in the intersection joins below — are
    bounded regardless of hub skew."""
    return oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """One row (n_edges, n_triangles) via per-edge neighbor-array
    intersection on the degree-oriented graph: a triangle (u,v,w) with
    all edges oriented ascending is counted exactly once at edge (u,v)
    as w in N+(u) & N+(v).

    This replaces the r5-r10 wedge-join plan (materialize every
    (dst,dst) wedge pair, close with a join against the edge set): the
    intersection plan ships the same adjacency bytes but never
    materializes the O(sum deg^2) wedge ROWS through a shuffle, and the
    closure join + final count collapse into one native array_intersect
    per edge (r11 interleaved A/B at sf0.1, identical 1,884,488 counts:
    ~1.7-2x; re-confirmed r12: intersection 4.0s vs wedge 6.9s).
    Out-degrees are O(sqrt(m))-bounded by the orientation, so no array
    or task is hub-sized at any scale.

    r12 shape (guide §2.4/§1.2): the oriented edge list IS the exploded
    adjacency, so the r11 plan's first join (e ⋈ adjacency-of-u) was a
    self-join of derivable data — eu now comes from one explode over
    the adjacency rows, leaving ONE data-proportional join (on v); and
    n_edges folds into the same aggregate as the triangle sum, so the
    whole count is ONE driver action instead of two and the oriented
    projection has a single consumer (its cache dropped). The join is
    unpinned: AQE's 16 MiB runtime-broadcast cap (session.py) decides
    broadcast-vs-SMJ from actual sizes — broadcast at bench scale,
    SMJ at corpus scale (the scale-adaptive posture of guide §2), with
    the r12 A/B measuring pinned 4.5s vs unpinned 4.0s (full graph) and
    4.5s vs 3.2s (p=0.2 sample; 32-core micro-task SMJ overhead)."""
    # orientation consumes the (often expensive) edge lineage twice
    # (degree build + degree join): cache it for the caller's
    # cache_scope instead of recomputing the edge build per pass
    edges = scoped_cache(edges)
    adj = _oriented_adjacency(orient_by_degree(edges))
    eu = adj.select(
        F.col("src").alias("u"),
        F.col("nbrs").alias("__nu"),
        F.explode("nbrs").alias("v"),
    )
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("__nv"))
    row = (
        eu.join(av, "v", "left")
        .select(
            F.size(
                F.array_intersect("__nu", F.coalesce("__nv", F.array()))
            ).alias("__t")
        )
        .agg(
            F.coalesce(F.sum("__t"), F.lit(0)).alias("n_tri"),
            # each eu row is exactly one oriented edge (av is unique per
            # v and the join is left), so this IS the edge count — no
            # second action over the cached edges
            F.count(F.lit(1)).alias("n_e"),
        )
        .first()
    )
    spark = edges.sparkSession
    # one-row JVM literal (single partition, no Python-RDD slices): the
    # r11 createDataFrame().coalesce(1) form cost ~5s PER ACTION — the
    # coalesced task walked 32 pickled empty slices sequentially, one
    # Python-worker round-trip each (see operators/localrel.py)
    return literal_frame(
        spark,
        [(int(row.n_e), int(row.n_tri))],
        "n_edges bigint, n_triangles bigint",
    )


def triangle_counts_with_flag(edges: DataFrame, flag: str) -> DataFrame:
    """One row (n_edges, n_triangles, n_edges_flagged,
    n_triangles_flagged): exact triangle count AND the count of
    triangles whose three edges all carry ``flag`` — in ONE pass.

    A triangle of the flag-induced subgraph is exactly a full-graph
    triangle with all three edges flagged, so an estimator gate
    (exact vs DOULION-sampled count, e.g.) does not need a second
    orientation + counting pass over the sampled subgraph: the flags
    ride the oriented edges through the same neighbor-array
    intersection plan as ``triangle_count`` (see its docstring for the
    r11 wedge-join A/B), with the flagged-only adjacency arrays
    collected by the same groupBy — at sf0.1 the one-pass form halved
    the r10 gate's join work, and the r11 intersection plan cut it
    again."""
    edges = scoped_cache(edges)
    # one groupBy yields BOTH adjacency arrays: all out-neighbors and the
    # flagged-only subset — the flag-induced subgraph never needs its own
    # orientation or pass (same neighbor-array-intersection plan as
    # triangle_count; see its docstring for the r11/r12 A/Bs). The
    # (dst, flag) structs keep the per-edge flag available when the edge
    # list is re-derived by exploding the adjacency (r12: the explode
    # replaces the e ⋈ adjacency-of-u join, and all four counts fold
    # into ONE aggregate/driver action — previously two).
    adj = (
        orient_by_degree(edges, carry=(flag,))
        .groupBy("src")
        .agg(
            F.collect_list(
                F.struct(F.col("dst"), F.col(flag).alias("f"))
            ).alias("__ps")
        )
    )
    nbrs = F.transform("__ps", lambda p: p.dst)
    fnbrs = F.transform(
        F.filter("__ps", lambda p: p.f), lambda p: p.dst
    )
    eu = adj.select(
        F.col("src").alias("u"),
        nbrs.alias("__nu"),
        fnbrs.alias("__fnu"),
        F.explode("__ps").alias("__p"),
    ).select(
        "u", "__nu", "__fnu",
        F.col("__p.dst").alias("v"), F.col("__p.f").alias("__f"),
    )
    av = adj.select(
        F.col("src").alias("v"),
        nbrs.alias("__nv"),
        fnbrs.alias("__fnv"),
    )
    row = (
        eu.join(av, "v", "left")
        .select(
            "__f",
            F.size(
                F.array_intersect("__nu", F.coalesce("__nv", F.array()))
            ).alias("__t"),
            F.when(
                F.col("__f"),
                F.size(
                    F.array_intersect(
                        "__fnu", F.coalesce("__fnv", F.array())
                    )
                ),
            )
            .otherwise(0)
            .alias("__tf"),
        )
        .agg(
            F.coalesce(F.sum("__t"), F.lit(0)).alias("n_tri"),
            F.coalesce(F.sum("__tf"), F.lit(0)).alias("n_tri_f"),
            F.count(F.lit(1)).alias("n_e"),
            F.coalesce(
                F.sum(F.when(F.col("__f"), 1).otherwise(0)), F.lit(0)
            ).alias("n_e_f"),
        )
        .first()
    )
    spark = edges.sparkSession
    # one-row JVM literal — see triangle_count for the coalesce(1) cost
    return literal_frame(
        spark,
        [(int(row.n_e), int(row.n_tri), int(row.n_e_f), int(row.n_tri_f))],
        "n_edges bigint, n_triangles bigint,"
        " n_edges_flagged bigint, n_triangles_flagged bigint",
    )


def doulion_coin(*, keep_num: int = 2, keep_den: int = 10):
    """Boolean keep/drop column for DOULION sparsification: md5 of the
    canonical edge key, so the coin is bit-reproducible on any engine
    (the repo's reservoir-sample discipline)."""
    h = hex8_to_int(
        F.md5(
            F.concat(
                F.lit("tri:"),
                F.col("u").cast("string"),
                F.lit(":"),
                F.col("v").cast("string"),
            )
        )
    )
    return (h % keep_den) < keep_num


def doulion_sample(edges: DataFrame, *, keep_num: int = 2, keep_den: int = 10) -> DataFrame:
    """DOULION edge sparsification (Tsourakakis et al., KDD 2009 —
    public): keep each undirected edge independently with probability
    p = keep_num/keep_den, DETERMINISTICALLY (see doulion_coin).
    Expects canonical (u, v) edges (undirected_edges)."""
    return edges.filter(doulion_coin(keep_num=keep_num, keep_den=keep_den))


def _wedge_triangle_counts(edges: DataFrame) -> tuple[int, int]:
    """(n_edges, n_triangles) via the classic oriented wedge join
    (materialize (dst,dst) wedge pairs sharing a src, close against the
    edge set) — kept as the DOULION estimator's plan, NOT the exact
    path's. On a p-sparsified graph the wedge volume shrinks ~p^2 (both
    wedge edges must survive) while the intersection plan's adjacency
    shipping only shrinks ~p^1.5, so the two plans cross: the r12 A/B
    measured, identical counts, wedge 6.9s vs intersection 11.8s on the
    p=0.2 sample at sf1.0 (and 2.9s vs 3.2s at sf0.1) — but intersection
    21.3s vs wedge 49.8s on the FULL sf1.0 graph. Joins are unpinned:
    AQE's 16 MiB runtime cap decides broadcast-vs-SMJ from actual
    sampled-side sizes (scale-adaptive, guide §2/§3)."""
    edges = scoped_cache(edges)
    oriented = scoped_cache(orient_by_degree(edges))
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    # unordered far pair, canonicalized to id order so the closure is a
    # PURE EQUI-JOIN against the canonical (u < v) edge set
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst") < F.col("e2.dst")),
    ).select(F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v"))
    n_tri = wedges.join(edges, ["u", "v"]).count()
    n_edges = edges.count()  # cache hit: the closure count filled it
    return n_edges, n_tri


def doulion_triangle_estimate(
    edges: DataFrame, *, keep_num: int = 2, keep_den: int = 10
) -> DataFrame:
    """One row (n_edges_sampled, n_triangles_sampled, triangles_est):
    exact triangle count on the p-sparsified graph, scaled by 1/p^3
    (each surviving triangle needed all three coins). The sampled count
    runs the WEDGE plan, not triangle_count's array intersection: wedge
    work drops ~p^2 under sparsification vs ~p^1.5 for the adjacency
    arrays, which is what lets the estimate finish at scales where the
    exact join's spill exceeds a single node's disk (see
    _wedge_triangle_counts for the r12 two-scale A/B). With p = 0.2 the
    scale factor 1/p^3 = 125 is an exact small integer, so the estimate
    is one exact BIGINT*constant multiply — bit-identical across
    engines."""
    sampled = doulion_sample(edges, keep_num=keep_num, keep_den=keep_den)
    n_edges, n_tri = _wedge_triangle_counts(sampled)
    scale = float(keep_den**3) / float(keep_num**3)
    spark = edges.sparkSession
    counts = literal_frame(
        spark,
        [(int(n_edges), int(n_tri))],
        "n_edges bigint, n_triangles bigint",
    )
    return counts.select(
        F.col("n_edges").alias("n_edges_sampled"),
        F.col("n_triangles").alias("n_triangles_sampled"),
        (F.col("n_triangles") * F.lit(scale)).alias("triangles_est"),
    )


def pagerank_scaled(
    edges: DataFrame, *, iters: int = 3, damping: float = 0.85
) -> DataFrame:
    """(node, pr): PageRank on the undirected graph in the N-scaled form
    (uniform start = 1.0, update pr' = (1-d) + d * sum(pr_in/deg_in)) so
    scores stay O(1) and 6-decimal rounding — which absorbs the
    distributed sum's merge-order residual each iteration — costs no
    relative precision. Rankings are identical to the 1/N-normalized
    form.

    Per iteration: one join of the adjacency list with the current score
    vector (both keyed by vertex — co-partitioned after the first
    shuffle) and one groupBy(dst) partial-sum aggregate; the score
    lineage is truncated per round (localCheckpoint, |V| rows) — the same
    iterative-algorithm hygiene as the k-means tier. On an undirected
    graph every vertex has degree >= 1, so there is no dangling mass."""
    # the adjacency and degree tables are loop-invariant; without a
    # cache every iteration replays the full edge build
    adj = scoped_cache(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                    F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst")
    )
    deg = scoped_cache(
        adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    # the (src, dst, deg) join is ALSO loop-invariant — hoisting it out
    # of the loop turns each iteration into a single vertex-keyed join
    # instead of two, and caches the adjacency already shuffled by src.
    # deg stays in the row (pr / deg, same float op order as the oracle's
    # SUM(pr/deg)) rather than a precomputed 1/deg weight, which would
    # change the doubles.
    adj_deg = scoped_cache(adj.join(deg, "src"))
    pr = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("pr"))
    for _ in range(iters):
        contrib = (
            adj_deg.join(pr.withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # teleport term as the ROUNDED decimal (python 1.0-0.85 is
        # 0.15000000000000002 — not the double an SQL 0.15 literal
        # denotes; round() restores the shared nearest-to-0.15 double)
        teleport = round(1.0 - damping, 6)
        pr = contrib.select(
            F.col("dst").alias("node"),
            F.round(
                F.lit(teleport) + F.lit(damping) * F.col("s"), 6
            ).alias("pr"),
        ).localCheckpoint()
    return pr


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(node, component_id) over undirected (u, v) edges — component_id
    is the component's minimum node id. Delegates to the pointer-doubled
    min-label propagation that powers near-dup cluster closure
    (operators/dedup.near_dup_clusters): O(log diameter) rounds of
    (id, label) equi-joins; node payloads never shuffle."""
    from etl_bigquery_pipeline_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(
        edges, left_col="u", right_col="v", max_iterations=max_iterations
    ).select("node", F.col("cluster_id").alias("component_id"))


def negative_samples(
    edges: DataFrame,
    probes: DataFrame,
    *,
    k: int = 5,
    salt: str = "negs",
) -> DataFrame:
    """Deterministic negative sampling for link-prediction training: for
    each probe node, the ``k`` non-adjacent nodes ranked first by
    md5(salt:probe:candidate) — a reproducible pseudo-random draw with
    no RNG state, identical on any cluster size (the same determinism
    contract as operators.sampling).

    ``edges`` is the canonical undirected (u, v) u<v set; ``probes`` a
    1-column frame of probe node ids (small — broadcast). Returns
    (probe, negative, rnk).

    Scale: the naive plan shuffles the FULL probes x |V| candidate set
    through the anti-join and the per-probe rank window — ~8e9 rows at
    sf10 (4k probes x 2M parts), which exhausted shuffle disk in the r9
    sweep. The md5 rank key is uniform, so the hashes are generated
    map-side (broadcast nested loop, no shuffle) and PRE-FILTERED on
    their 32-bit prefix to an expected ~256 survivors per probe before
    anything shuffles. Exactness is structural, not probabilistic: hex
    md5 is fixed-width, so prefix order dominates full-key order —
    every survivor ranks before every non-survivor — hence when a probe
    keeps >= k non-adjacent survivors its survivor top-k IS the global
    top-k. Probes left short (P ~ e^-250; a probe adjacent to almost
    the whole graph) are re-ranked over their full candidate set in a
    declarative fallback branch that stays empty in practice (an empty
    broadcast build side scans nothing twice). One bounded scalar
    (|V|) reaches the driver to set the threshold."""
    from pyspark.sql import Window as _W

    nodes = scoped_cache(  # consumed 3x: count, candidates, fallback
        edges.select(F.explode(F.array("u", "v")).alias("cand")).distinct()
    )
    p = probes.select(F.col(probes.columns[0]).alias("probe"))
    n_nodes = max(nodes.count(), 1)  # bounded scalar: threshold input
    thresh = min((1 << 32) - 1, ((1 << 32) * 256) // n_nodes)

    key = F.md5(
        F.concat(
            F.lit(f"{salt}:"),
            F.col("probe").cast("string"),
            F.lit(":"),
            F.col("cand").cast("string"),
        )
    )
    cu = F.least("probe", "cand")
    cv = F.greatest("probe", "cand")

    def _ranked(non_adj: DataFrame) -> DataFrame:
        w = _W.partitionBy("probe").orderBy(
            F.col("__h").asc(), F.col("cand").asc()
        )
        return (
            non_adj.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= k)
            .select("probe", F.col("cand").alias("negative"), "rnk")
        )

    cands = (
        nodes.crossJoin(F.broadcast(p))
        .filter(F.col("cand") != F.col("probe"))
        .withColumn("__h", key)
    )
    surv = cands.filter(hex8_to_int("__h") <= F.lit(thresh))
    non_adj_s = scoped_cache(
        surv.withColumns({"u": cu, "v": cv})
        .join(edges, ["u", "v"], "left_anti")
        .drop("u", "v")
    )
    enough = non_adj_s.groupBy("probe").agg(
        F.count(F.lit(1)).alias("__n")
    ).filter(F.col("__n") >= k).select("probe")
    # probes with < k non-adjacent survivors (incl. zero): full re-rank
    short = p.join(enough, "probe", "left_anti")
    main = _ranked(non_adj_s.join(F.broadcast(enough), "probe", "semi"))
    fb_cands = (
        nodes.crossJoin(F.broadcast(short))
        .filter(F.col("cand") != F.col("probe"))
        .withColumn("__h", key)
    )
    fb = _ranked(
        fb_cands.withColumns({"u": cu, "v": cv})
        .join(edges, ["u", "v"], "left_anti")
        .drop("u", "v")
    )
    return main.unionAll(fb)


def deterministic_walks(
    edges: DataFrame,
    starts: DataFrame,
    *,
    steps: int = 3,
    salt: str = "walk",
) -> DataFrame:
    """Hash-deterministic random walks (the corpus-generation step of
    DeepWalk/node2vec-style embedding training, made reproducible): from
    each start node, ``steps`` hops where the hop from u picks the
    neighbor v minimizing md5(salt:walk:step:u:v) — a fixed pseudo-random
    choice, so the walk corpus is identical across runs and engines and
    SQL-replayable.

    Each hop is ONE join of the current frontier (|walks| rows) against
    the adjacency list keyed by source node, plus a groupBy argmin per
    walk — the iterative frontier-join shape shared with pagerank_scaled;
    adjacency is built once. Dead-end nodes terminate their walk early.
    Returns (walk_id, step, node) with step 0 = the start node."""
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("nbr")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("nbr")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.nbr")
    adj = scoped_cache(adj)
    frontier = starts.select(
        F.col(starts.columns[0]).alias("walk_id"),
        F.col(starts.columns[0]).alias("node"),
    )
    out = frontier.withColumn("step", F.lit(0).cast("bigint"))
    for s in range(1, steps + 1):
        key = F.md5(
            F.concat(
                F.lit(f"{salt}:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{s}:"),
                F.col("src").cast("string"),
                F.lit(":"),
                F.col("nbr").cast("string"),
            )
        )
        # the frontier is |walks| rows — broadcast it so each hop scans
        # the cached adjacency without re-shuffling it (a plain join
        # would exchange the full edge list once per hop)
        nxt = (
            adj.join(F.broadcast(frontier), frontier["node"] == adj["src"])
            .select("walk_id", key.alias("__k"), "nbr")
            .groupBy("walk_id")
            .agg(F.min(F.struct("__k", "nbr")).alias("__best"))
            .select("walk_id", F.col("__best.nbr").alias("node"))
            # |walks| rows: truncate lineage per hop (the pagerank
            # pattern) — otherwise hop k re-runs hops 1..k-1, and the
            # final union re-runs every hop again (quadratic adj scans)
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(nxt.withColumn("step", F.lit(s).cast("bigint")))
        frontier = nxt
    return out.select("walk_id", "step", "node")
