"""Deduplication operators: exact, key-group, MinHash-LSH, SimHash,
n-gram-Jaccard, embedding-cosine (SURVEY.md §2.3 + north-star tier).

Reference surface: full-row drop_duplicates
(/root/reference/dags/etl_pipeline.py:176-182) and GROUP BY ... HAVING
COUNT(*)>1 duplicate probes (:364-383). The near-dup family is the
training-data-pipeline extension.

Determinism note: every hash here is md5-derived (seeded by an integer
prefix), and MinHash minima are taken over fixed-width lowercase-hex
*strings*, so signatures are reproducible across engines — which is what
lets the DuckDB oracle replay the exact same LSH pipeline in SQL.

Scale notes:
- Exact dedup by content hash shuffles a 32-char key, never the document
  body.
- MinHash-LSH is the canonical 100 TB near-dup design (one shuffle per
  band-bucket join, candidates only — never all-pairs).
- The exact n-gram-Jaccard operator is intentionally *blocked*: all-pairs
  Jaccard is O(n²) and exists as the small-data oracle / LSH-verification
  path, with a mandatory blocking predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators.caching import scoped_cache

from etl_bigquery_pipeline_spark.functions.text import (
    content_hash,
    shingles,
    shingles_of,
    tokens,
)
from etl_bigquery_pipeline_spark.operators.partitioning import widen_if_narrow

# Production default for the hot-bucket guard on the banded near-dup
# operators: a band bucket holding more documents than this is a
# boilerplate cluster whose candidate pairs grow quadratically (1000 docs
# in one bucket is already ~500k pairs). Opting OUT is the explicit act
# (max_band_bucket=None) — the oracle parity queries do so for exact
# recall against their SQL replays.
_DEFAULT_MAX_BAND_BUCKET = 1000

# ---------------------------------------------------------------- exact ---


def duplicate_key_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """D2/D3: key groups with >1 row, mirroring the reference's
    GROUP BY ... HAVING COUNT(*) > 1 probes
    (/root/reference/dags/etl_pipeline.py:364-383)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("duplicate_count"))
        .filter(F.col("duplicate_count") > 1)
    )


def dedup_exact_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact near-whitespace dedup: keep the lowest-id row per content hash.

    The shuffle key is the 32-char md5, not the document body — at 100 TB
    the shuffle moves ~50 bytes/row regardless of document size.
    """
    h = content_hash(text_col).alias("__h")
    return (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .join(df, id_col, "inner")
        .drop("__h")
    )


# -------------------------------------------------------------- minhash ---


def _signatures_from_shingles(
    sh_df: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int,
) -> DataFrame:
    """(id, signature array<string>) from a shingle-set frame.

    md5 economy: one md5 yields 32 hex chars = four independent 8-hex
    (32-bit) minhash lanes — the standard MinHash width — so
    ``num_hashes`` lanes need only num_hashes/4 digests. Shingles are
    exploded to rows so the digest pack is a plain per-row projection
    (evaluated exactly once — array-lambda formulations re-evaluate the
    md5s per lane), and the per-lane minima become map-side partial
    aggregates: the doc_id shuffle carries only num_hashes×8 hex chars
    per document. shingles() always yields >=1 element, so explode drops
    no documents.
    """
    n_md5 = (num_hashes + 3) // 4
    packed = F.concat(
        *[F.md5(F.concat(F.lit(f"{i}:"), F.col("__s"))) for i in range(n_md5)]
    )
    exploded = sh_df.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("__s")
    ).select(F.col(id_col), packed.alias("__packed"))
    mins = [
        F.min(
            F.substring(F.col("__packed"), (k // 4) * 32 + (k % 4) * 8 + 1, 8)
        ).alias(f"__m{k}")
        for k in range(num_hashes)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{k}") for k in range(num_hashes)]).alias(
                "signature"
            ),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, signature array<string>) — narrow projections, no shuffle.
    Tokens land in their own projection before shingling: a tokens()
    subtree inside the n-gram lambda re-evaluates per gram (interpreted
    higher-order functions), O(len²) per document."""
    sh_df = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        F.col(id_col), shingles_of(F.col("__toks"), shingle_n).alias("__sh")
    )
    return _signatures_from_shingles(sh_df, id_col, "__sh", num_hashes).select(
        id_col, "signature"
    )


def minhash_band_keys(
    sig_df: DataFrame, id_col: str = "doc_id", *, bands: int = 4
) -> DataFrame:
    """Explode signatures into (id, band, band_key). band_key is the md5 of
    the band's slice of the signature — a fixed 32-byte shuffle key."""
    sig = F.col("signature")
    rows_per_band = F.floor(F.size(sig) / bands).cast("int")
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    # the LAST band absorbs any remainder lanes (num_hashes % bands != 0)
    # so every signature lane contributes to some band key — silently
    # dropping trailing lanes would quietly reduce LSH recall.
    bands_col = F.transform(
        band_idx,
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.concat(
                    b.cast("string"),
                    F.lit("|"),
                    F.array_join(
                        F.slice(
                            sig,
                            b * rows_per_band + 1,
                            F.when(
                                b < F.lit(bands - 1), rows_per_band
                            ).otherwise(
                                F.size(sig) - b * rows_per_band
                            ),
                        ),
                        ",",
                    ),
                )
            ).alias("band_key"),
        ),
    )
    return sig_df.select(
        F.col(id_col), F.explode(bands_col).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays.

    |union| = |a| + |b| - |inter| for distinct arrays, so only the
    intersection is materialized — array_union would rebuild and re-dedupe
    a combined array per pair, doubling the per-pair cost."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return F.try_divide(
        inter, F.size(a).cast("double") + F.size(b).cast("double") - inter
    )


def _drop_hot_buckets(
    bk: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """Remove band-bucket rows whose bucket holds more than ``cap`` ids.

    A bucket with n members yields n(n-1)/2 candidate pairs — quadratic —
    and boilerplate corpora routinely put 10-30% of all documents behind
    ONE band key, which no join strategy survives (AQE skew-split spreads
    the build side but cannot shrink the pair product). The hot list is
    tiny (it is the count of distinct hot KEYS), so it broadcasts into a
    left-anti join; the cheap pre-count shuffles only the short band keys.
    Documents dropped this way are near-identical boilerplate — route them
    through exact dedup (dedup_exact_text), which handles mega-clusters in
    one linear groupBy.
    """
    hot = (
        bk.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bc"))
        .filter(F.col("__bc") > cap)
        .select(*keys)
    )
    return bk.join(F.broadcast(hot), keys, "left_anti")


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_band_bucket: int | None = _DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle -> minhash signature -> band keys -> bucket self-join
    (candidates = pairs sharing >=1 band) -> verify with exact Jaccard on
    the shingle sets -> filter >= threshold. Returns
    (id_a, id_b, jaccard_sim) with id_a < id_b.

    This is the scale path: the only shuffles are the band-key join and the
    candidate-pair distinct; no all-pairs product ever materializes.

    ``max_band_bucket`` is the hot-bucket guard for boilerplate corpora
    and DEFAULTS ON (1000): a band bucket holding >1000 documents is a
    near-identical boilerplate cluster whose pairs would blow up
    quadratically (1000 docs in one bucket is already ~500k candidate
    pairs); production corpora always want the cap, so opting OUT is the
    explicit act (``max_band_bucket=None`` — the exact-recall setting the
    oracle parity queries use).
    band buckets holding more than that many documents are excluded from
    candidate generation (quadratic pair blowup — see _drop_hot_buckets).
    Run exact dedup first/alongside to collapse the boilerplate clusters
    this skips; default None preserves exact recall.
    """
    # Widen BEFORE shingling: small inputs arrive as one file split, and
    # shingling + the md5 signature pack downstream are the dominant cost
    # — they must run across the executors, not one task. widen_if_narrow
    # is a no-op on already-wide (at-scale) inputs, so the document body
    # never shuffles at 100 TB.
    # cache(): the signature path and both verify sides branch from this
    # frame; callers running many operators in one long-lived session
    # should spark.catalog.clearCache() between runs (the plan is lazy, so
    # the operator itself cannot know when the frame is consumed).
    sh_df = (
        widen_if_narrow(df, id_col)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col), shingles_of(F.col("__toks"), shingle_n).alias("__sh")
        )
        .transform(scoped_cache)
    )
    sig = _signatures_from_shingles(sh_df, id_col, "__sh", num_hashes).select(
        id_col, "signature"
    )
    bk = minhash_band_keys(sig, id_col, bands=bands)
    if max_band_bucket is not None:
        bk = _drop_hot_buckets(bk, ["band", "band_key"], max_band_bucket)
    left = bk.alias("l")
    right = bk.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    a = sh_df.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh_df.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    # The candidate-pair set is DATA-DEPENDENT and unbounded (it grows with
    # the corpus's true duplicate rate), so it must never be a broadcast
    # side: at the sf10 (100x) rehearsal AQE judged the post-distinct pair
    # stage "small" from its compressed shuffle bytes, converted the verify
    # join to broadcast, and the driver-side HashedRelation build blew past
    # 1 GiB. merge hints pin both verify joins to sort-merge — the only
    # strategy whose memory is O(1) in candidate count on every side
    # (spills instead of building an in-heap hash of an unbounded set).
    return (
        cands.hint("merge")
        .join(a, "id_a")
        .join(b.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# -------------------------------------------------------- ngram jaccard ---


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block: Column | None = None,
    block_width: int = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard over *blocked* pairs.

    ``block`` is the join predicate that bounds the pair count; default is
    an id-distance band (b - a <= block_width). At scale you pass a real
    blocking predicate (same lang + length bucket, or feed candidates from
    LSH) — unblocked all-pairs is deliberately not offered.

    Plan note: a bare non-equi predicate would plan as a nested-loop join
    (O(n²) evaluations — minutes at 5k docs, impossible at scale). The
    default id-distance block therefore joins on an *equi* bucket key
    (width = block_width; the right side lands in its own bucket and the
    previous one) and applies the exact predicate as a post-filter — a
    hash join touching only ~2×n×width/width candidate rows.

    Per-pair cost: shingle strings are pre-hashed to int64 (xxhash64) once
    per document, so intersections compare longs instead of re-hashing
    strings. Jaccard depends only on set sizes, which an
    injective-in-practice 64-bit hash preserves (collision odds per pair
    ~|a|·|b|/2^64 — vanishing).

    Shuffle note: the default path does NOT ship shingle arrays to every
    candidate pair (n×block_width array copies — the dominant cost of the
    naive plan). It explodes each document's shingle set once and
    equi-joins on (bucket, shingle_hash): only co-occurring shingles meet,
    a groupBy counts |a∩b| per pair, and a merge-pinned join with the
    per-doc set sizes finishes jaccard = c / (|a|+|b|-c) (the sizes
    side is corpus-proportional, so it must never STATICALLY broadcast
    — the r8 sf10 sweep measured the driver build dying; sort-merge is
    pinned, AQE still free to re-optimize locally). Pairs sharing zero
    shingles never materialize — correct for any threshold > 0 (their
    similarity is exactly 0); for threshold <= 0 or a custom ``block``
    predicate the pairwise array-intersect plan is used instead.
    """
    # Shingling + hashing dominates the whole pipeline, and small inputs
    # arrive as one file split — widen BEFORE the expensive projection
    # (no-op on already-wide at-scale inputs: the body never shuffles).
    # cache(): sizes, the a-side, and the b-side all branch from this
    # frame — uncached, each branch re-runs the shingle+hash projection
    # (3x the dominant cost; same pattern as minhash_near_dup_pairs).
    # Long-lived sessions should clearCache() between operator runs.
    sh = (
        widen_if_narrow(df, id_col)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.transform(
                    shingles_of(F.col("__toks"), shingle_n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("__sh"),
        )
        .transform(scoped_cache)
    )
    if block is not None or threshold <= 0:
        a = sh.select(
            F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
        )
        b = sh.select(
            F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
        )
        sim = F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 6).alias(
            "jaccard_sim"
        )
        if block is not None:
            joined = a.join(b, (F.col("id_a") < F.col("id_b")) & block)
        else:
            a_k = a.withColumn("__bk", F.floor(F.col("id_a") / block_width))
            b_k = b.withColumn(
                "__bk",
                F.explode(
                    F.array(
                        F.floor(F.col("id_b") / block_width),
                        F.floor(F.col("id_b") / block_width) - 1,
                    )
                ),
            )
            joined = a_k.join(b_k, "__bk").filter(
                (F.col("id_a") < F.col("id_b"))
                & ((F.col("id_b") - F.col("id_a")) <= block_width)
            )
        return joined.select("id_a", "id_b", sim).filter(
            F.col("jaccard_sim") >= threshold
        )

    sizes = sh.select(
        F.col(id_col).alias("__sid"), F.size("__sh").alias("__n")
    )
    tok = sh.select(F.col(id_col), F.explode("__sh").alias("__h"))
    a_t = tok.select(
        F.col(id_col).alias("id_a"),
        F.col("__h"),
        F.floor(F.col(id_col) / block_width).alias("__bk"),
    )
    b_t = tok.select(F.col(id_col).alias("id_b"), F.col("__h")).withColumn(
        "__bk",
        F.explode(
            F.array(
                F.floor(F.col("id_b") / block_width),
                F.floor(F.col("id_b") / block_width) - 1,
            )
        ),
    )
    # BOTH exploded gram tables are corpus x grams-per-doc proportional
    # (~60M rows each at sf10); the static planner broadcast the b-side
    # at sf10 once the materialized oracle let the query run past the
    # old budget cut (r9 sweep: "Not enough memory to build and
    # broadcast" — the sizes-join hazard one join earlier). Merge-pinned
    # like the sizes joins below; no join in this plan may hash-build
    # an unbounded side on the driver.
    common = (
        a_t.join(b_t.hint("merge"), ["__bk", "__h"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & ((F.col("id_b") - F.col("id_a")) <= block_width)
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    inter = F.col("__c").cast("double")
    sim = F.round(
        inter / (F.col("__na") + F.col("__nb") - inter).cast("double"), 6
    ).alias("jaccard_sim")
    # the SIZES side is corpus-proportional (one row per doc): the
    # static planner broadcast it at sf10 and the driver-side hash
    # build died ("Not enough memory to build and broadcast") — found
    # by the r8 digest-mode sweep, the same hazard class as the r7
    # minhash-gate OOM. merge hints pin both joins to sort-merge; AQE
    # may still locally optimize, but never a driver broadcast of an
    # unbounded side. (Plan-shape test: test_plan_shapes.py.)
    return (
        common.join(
            sizes.select(F.col("__sid"), F.col("__n").alias("__na")).hint(
                "merge"
            ),
            F.col("id_a") == F.col("__sid"),
        )
        .drop("__sid")
        .join(
            sizes.select(F.col("__sid"), F.col("__n").alias("__nb")).hint(
                "merge"
            ),
            F.col("id_b") == F.col("__sid"),
        )
        .select("id_a", "id_b", sim)
        .filter(F.col("jaccard_sim") >= threshold)
    )


# -------------------------------------------------------------- simhash ---

_HEX = "0123456789abcdef"


def _simhash_counters(text_col: Column | str, nibbles: int) -> Column:
    """4*nibbles bit counters: ONE aggregate pass zip-summing per-token bit
    arrays (md5 evaluated once per token)."""
    nbits = nibbles * 4
    toks = tokens(text_col)

    def bits_of(h: Column) -> Column:
        out = []
        for p in range(nibbles):
            val = F.conv(F.substring(h, p + 1, 1), 16, 10).cast("int")
            for j in (3, 2, 1, 0):  # msb->lsb within the nibble
                out.append(F.shiftright(val, j) % 2)
        return F.array(*out)

    tok_bits = F.transform(
        toks, lambda t: bits_of(F.substring(F.md5(t), 1, nibbles))
    )
    return F.aggregate(
        tok_bits,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, tb: F.zip_with(acc, tb, lambda x, y: x + y),
    )


def _counters_to_hex(counters: Column, n_toks: Column, nibbles: int) -> Column:
    """Fingerprint hex string from the counters array. ``counters`` should
    be a plain column attribute, not an inline expression: this references
    it 4*nibbles times, which would otherwise clone the whole aggregate
    subtree and blow up analysis/codegen time."""

    def nibble_char(p: int) -> Column:
        # bit set iff ones > zeros  <=>  2*ones > n_tokens
        def bit(k: int) -> Column:
            ones = F.element_at(counters, p * 4 + k + 1)
            return F.when(ones * 2 > n_toks, F.lit(1)).otherwise(F.lit(0))

        nib = bit(0) * 8 + bit(1) * 4 + bit(2) * 2 + bit(3)
        return F.substring(F.lit(_HEX), nib + 1, 1)

    return F.concat(*[nibble_char(p) for p in range(nibbles)])


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "simhash",
    nibbles: int = 15,
) -> DataFrame:
    """Append a SimHash fingerprint column (``nibbles``-long lowercase hex).

    Per token: md5 -> first ``nibbles`` hex chars = 4*nibbles bits; each bit
    votes +1/-1 on its counter; fingerprint bit = sign. md5/substring
    formulation is engine-reproducible; JVM higher-order functions only —
    no shuffle, no UDF.

    The counters land in an intermediate projection on purpose: the hex
    construction references them 4*nibbles times, and keeping them as a
    column attribute stops Catalyst from inlining 60 copies of the
    aggregate (which took analysis+codegen from seconds to minutes).
    """
    tmp_c, tmp_n = f"__{out_col}_counters", f"__{out_col}_ntoks"
    return (
        df.withColumns(
            {
                tmp_c: _simhash_counters(text_col, nibbles),
                tmp_n: F.size(tokens(text_col)),
            }
        )
        .withColumn(
            out_col, _counters_to_hex(F.col(tmp_c), F.col(tmp_n), nibbles)
        )
        .drop(tmp_c, tmp_n)
    )


def simhash_hamming(a: Column, b: Column, *, nibbles: int = 15) -> Column:
    """Hamming distance between two simhash hex strings (bit-level).

    For nibbles <= 15 the fingerprint fits a signed 64-bit integer, so
    the distance is one conv per side + xor + native bit_count — the r11
    replacement for the nibble loop (2 conv + ~5 ops per nibble, ~75
    expression nodes per pair at the default width; same integer
    result). Wider fingerprints keep the per-nibble loop."""
    if nibbles <= 15:
        # read exactly the declared width (matching the loop branch's
        # semantics): without the substring, hex wider than 15 nibbles
        # would overflow the bigint cast (ANSI error) where the loop
        # compared a 15-nibble prefix (r11 ADVICE #3)
        va = F.conv(F.substring(a, 1, nibbles), 16, 10).cast("bigint")
        vb = F.conv(F.substring(b, 1, nibbles), 16, 10).cast("bigint")
        return F.bit_count(va.bitwiseXOR(vb)).cast("int")
    dist = F.lit(0)
    for p in range(nibbles):
        va = F.conv(F.substring(a, p + 1, 1), 16, 10).cast("int")
        vb = F.conv(F.substring(b, p + 1, 1), 16, 10).cast("int")
        x = va.bitwiseXOR(vb)
        for j in range(4):
            dist = dist + F.shiftright(x, j) % 2
    return dist


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 8,
    nibbles: int = 15,
    band_nibbles: int = 4,
    max_band_bucket: int | None = _DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs: block on hex-prefix bands (any shared
    ``band_nibbles``-wide slice), verify by full Hamming distance.

    Banding a 60-bit fingerprint into 4-nibble slices guarantees recall for
    pairs within ~(bands-1) nibble corruptions; candidates join on a short
    string key, so the plan scales like MinHash-LSH. ``max_band_bucket``
    guards hot buckets exactly as in minhash_near_dup_pairs (SimHash
    clusters even harder on topically-narrow corpora — SCALE.md records
    5k docs -> 100k+ candidates without it).
    """
    # Widen before fingerprinting: the md5-per-token bit-counter aggregate
    # is the expensive stage and small inputs arrive as one file split
    # (no-op on wide at-scale inputs — the body never shuffles).
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = with_simhash(
        widen_if_narrow(df.select(F.col(id_col), F.col(text_col)), id_col),
        text_col,
        out_col="__sh",
        nibbles=nibbles,
    ).select(id_col, "__sh")
    n_bands = nibbles // band_nibbles
    band_arr = F.array(
        *[
            F.concat(
                F.lit(f"{b}|"), F.substring("__sh", b * band_nibbles + 1, band_nibbles)
            )
            for b in range(n_bands)
        ]
    )
    banded = sh.select(id_col, "__sh", F.explode(band_arr).alias("band_key"))
    if max_band_bucket is not None:
        banded = _drop_hot_buckets(banded, ["band_key"], max_band_bucket)
    # the md5-per-token fingerprint pass is the expensive stage and the
    # self-join consumes it on BOTH sides; without a cache Spark computes
    # it twice (no exchange reuse once AQE broadcasts one side)
    banded = scoped_cache(banded)
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.__sh").alias("__sh_a"),
            F.col("r.__sh").alias("__sh_b"),
        )
        .distinct()
    )
    # The nibble-wise Hamming verify is ~60 conv/bitcount ops per pair;
    # AQE coalesces the small post-distinct shuffle to a couple of tasks,
    # serializing that CPU — force the verify stage wide again.
    return cands.repartition(par, F.col("id_a"), F.col("id_b")).select(
        "id_a",
        "id_b",
        simhash_hamming(F.col("__sh_a"), F.col("__sh_b"), nibbles=nibbles).alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= max_hamming)


# -------------------------------------------- near-dup cluster closure ---


def near_dup_clusters(
    pairs: DataFrame,
    *,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (node, cluster_id) where
    ``cluster_id`` is the minimum id in the node's component.

    This is the step that actually consumes LSH output in a production
    dedup pipeline: pairwise matches chain (A~B, B~C => {A,B,C}), and the
    keep-one decision must be made per CLUSTER, not per pair — otherwise
    both B and C survive because neither directly matched the kept A.

    Algorithm: iterative minimum-label propagation with per-round
    pointer-doubling. Each round every node takes the smallest label
    among itself and its neighbors (one hop), then shortcuts to its
    label's label (halving remaining chain length) — convergence in
    O(log diameter) rounds, so the 20-round default covers components a
    million hops across. Near-dup graphs are overwhelmingly tiny
    star/clique components anyway (boilerplate clusters are capped
    upstream by ``max_band_bucket``); 2-3 rounds are typical. Per round
    the work is two equi-joins on (id, label) longs with map-side
    combining mins — document content never shuffles. The label table is
    ``localCheckpoint``-ed each round to stop lineage growth (the
    standard Spark iterative-algorithm device).

    Convergence probe: labels are monotone non-increasing (every round
    takes ``least`` of the current label and candidates), so the label
    SUM strictly decreases iff any node changed. Comparing exact
    decimal(38,0) sums (one single-row aggregate over the
    just-checkpointed table) detects the fixpoint without the
    new-vs-old equi-join a direct comparison would need — one fewer
    shuffle per round. decimal(38,0) keeps the probe exact at any node
    count (2e10 nodes x 2e10 max label overflows a long; 38 digits
    cannot).
    """
    # both directions from ONE pass over pairs (explode of a 2-struct
    # array) — the union-of-two-selects form consumed the pair build
    # twice, and `pairs` is typically the full uncached LSH pipeline
    # (r11: the closure's dominant cost halved for cluster queries)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(left_col).alias("src"),
                        F.col(right_col).alias("dst"),
                    ),
                    F.struct(
                        F.col(right_col).alias("src"),
                        F.col(left_col).alias("dst"),
                    ),
                )
            ).alias("__e")
        )
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("label")
    ).withColumnRenamed("src", "node").localCheckpoint()

    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        hop = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", "label")
            ).alias("label"),
        )
        # pointer-doubling shortcut: follow label -> label(label), so a
        # chain of length L halves every round instead of shrinking by 1
        parent = hop.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        new_labels = (
            hop.join(parent, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("plabel", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("node"), F.col("label").alias("cluster_id")
    )


def canonical_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    *,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Keep exactly one document per near-dup cluster (the minimum id —
    deterministic), passing through every document that joined no
    cluster. The clusters side is pair-derived and therefore tiny
    relative to the corpus, so the join broadcasts; the corpus itself
    never shuffles."""
    drop = clusters.filter(F.col(node_col) != F.col(cluster_col)).select(
        F.col(node_col).alias(id_col)
    )
    return df.join(F.broadcast(drop), id_col, "left_anti")


# ------------------------------------------------- incremental (vs corpus) ---


def dedup_exact_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: batch rows surviving against an existing
    corpus AND within the batch itself (lowest id per content hash wins).

    The ingestion-time shape of exact dedup: the corpus is the already-
    accepted 100 TB store, the batch is today's crawl. Neither side's
    document body ever shuffles — both sides reduce to their 32-char
    content hash, the corpus side to *distinct* hashes only (its id/text
    payload is dropped before the join), and the anti-join is the only
    cross-side exchange. Per-hash min-id then collapses within-batch
    duplicates exactly as dedup_exact_text does.
    """
    h = content_hash(text_col).alias("__h")
    batch_h = batch.select(F.col(id_col), h)
    corpus_h = corpus.select(h).distinct()
    fresh = batch_h.join(corpus_h, "__h", "left_anti")
    return (
        fresh.groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def _shingles_and_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shingle frame, signature frame, band-key frame) for one side of a
    cross-corpus near-dup join — the same shingle -> signature -> band
    pipeline the self-join operator uses, shared so both sides hash
    identically. The signature frame is returned so callers that ALSO
    build/probe a persisted index reuse one hashing pass instead of
    re-tokenizing per consumer (the r11 band-gate optimization)."""
    sh_df = (
        widen_if_narrow(df, id_col)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col), shingles_of(F.col("__toks"), shingle_n).alias("__sh")
        )
        .transform(scoped_cache)
    )
    sig = _signatures_from_shingles(sh_df, id_col, "__sh", num_hashes).select(
        id_col, "signature"
    )
    return sh_df, sig, minhash_band_keys(sig, id_col, bands=bands)


def _near_dup_from_bands(
    sh_b: DataFrame,
    bk_b: DataFrame,
    sh_c: DataFrame,
    bk_c: DataFrame,
    *,
    id_col: str,
    threshold: float,
    max_band_bucket: int | None,
) -> DataFrame:
    """Collision join + exact-Jaccard verify over precomputed shingle and
    band-key frames — the body of ``near_dup_against_corpus`` after its
    hashing passes, split out so a caller that already holds the frames
    (e.g. the band-index parity gate) never re-tokenizes either side."""
    if max_band_bucket is not None:
        bk_b = _drop_hot_buckets(bk_b, ["band", "band_key"], max_band_bucket)
        bk_c = _drop_hot_buckets(bk_c, ["band", "band_key"], max_band_bucket)
    cands = (
        bk_b.alias("l")
        .join(
            bk_c.alias("r"),
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.band") == F.col("r.band")),
        )
        .select(
            F.col(f"l.{id_col}").alias("batch_id"),
            F.col(f"r.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    a = sh_b.select(F.col(id_col).alias("batch_id"), F.col("__sh").alias("__sh_a"))
    b = sh_c.select(F.col(id_col).alias("corpus_id"), F.col("__sh").alias("__sh_b"))
    return (
        cands.join(a, "batch_id")
        .join(b, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 6).alias(
                "jaccard_sim"
            ),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def near_dup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_band_bucket: int | None = _DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Incremental MinHash-LSH near-dup: batch documents whose LSH band
    buckets collide with the existing corpus, verified by exact Jaccard.

    Returns (batch_id, corpus_id, jaccard_sim) for every verified pair at
    >= threshold; anti-join the batch against the distinct batch_ids to
    keep only novel documents. Candidates come ONLY from band-bucket
    equality between the two sides (batch x corpus — never corpus x
    corpus, which the self-join operator already covers), so the corpus
    side contributes one shuffle of its band keys per refresh and the
    pair product stays bounded by real collisions. ``max_band_bucket``
    drops boilerplate buckets on BOTH sides (see _drop_hot_buckets).
    """
    sh_b, _sig_b, bk_b = _shingles_and_bands(
        batch, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    sh_c, _sig_c, bk_c = _shingles_and_bands(
        corpus, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    return _near_dup_from_bands(
        sh_b, bk_b, sh_c, bk_c,
        id_col=id_col, threshold=threshold, max_band_bucket=max_band_bucket,
    )


# ------------------------------------------------------------ boilerplate ---


def boilerplate_shingle_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    df_frac: float = 0.05,
    max_ratio: float = 0.5,
) -> DataFrame:
    """Per-document boilerplate profile: the fraction of a document's
    shingles that are corpus-wide boilerplate (document frequency >=
    ``df_frac`` of all documents).

    C4-style template detection as pure DataFrame algebra: one explode +
    groupBy computes shingle document frequencies (shingle sets are
    per-document distinct, so COUNT(*) *is* the document frequency); the
    boilerplate set is broadcast back (its size is bounded by
    total-shingle-occurrences / (df_frac * n_docs) ~ shingles-per-doc /
    df_frac, a constant independent of corpus size); n_docs itself is a
    1-row aggregate cross-joined in, never a driver-side count. Returns
    (id, n_shingles, n_boiler, boiler_ratio, keep).
    """
    sh_df = (
        widen_if_narrow(df, id_col)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col), shingles_of(F.col("__toks"), shingle_n).alias("__sh")
        )
        .transform(scoped_cache)
    )
    exploded = sh_df.select(
        F.col(id_col), F.explode(F.col("__sh")).alias("__s")
    )
    n_docs = sh_df.agg(F.count(F.lit(1)).alias("__n_docs"))
    doc_freq = exploded.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    boiler = (
        doc_freq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") >= F.col("__n_docs") * F.lit(df_frac))
        .select("__s")
    )
    per_doc_boiler = (
        exploded.join(F.broadcast(boiler), "__s", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        sh_df.select(F.col(id_col), F.size("__sh").cast("bigint").alias("n_shingles"))
        .join(per_doc_boiler, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("bigint").alias("n_boiler"),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0))
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("boiler_ratio"),
            (
                F.coalesce(F.col("n_boiler"), F.lit(0))
                / F.col("n_shingles").cast("double")
                <= F.lit(max_ratio)
            ).alias("keep"),
        )
    )


# ------------------------------------------------ persisted band index ---


def build_band_index(
    corpus: DataFrame,
    table: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    signatures: DataFrame | None = None,
) -> None:
    """Persist the corpus side of incremental near-dup as a bucketed
    table: (id, band, band_key, signature), bucketed by band_key.

    ``signatures``: optional precomputed (id, signature) frame for the
    SAME corpus and hash parameters (as produced by minhash_signatures /
    _shingles_and_bands with identical num_hashes/shingle_n) — callers
    that already hashed the corpus for another consumer pass it so the
    build never re-tokenizes; parameters recorded in the metadata are
    still the declared ones, so the caller owns the agreement.

    This is the 100 TB refresh path SCALE.md prescribes: the corpus
    shingle/signature pass runs ONCE at build time; every subsequent
    batch probe joins its (tiny, broadcast) band keys against the
    bucketed layout — the corpus never re-tokenizes, never re-hashes,
    never shuffles. The signature rides along (x bands duplication,
    num_hashes x 8 hex chars) so probes can estimate Jaccard from lane
    agreement without access to corpus text. Metadata persists alongside
    so probes can't be run with mismatched hash parameters.
    """
    from etl_bigquery_pipeline_spark.operators import band_index_core

    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(
            corpus, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n
        )
    )
    bk = minhash_band_keys(sig, id_col, bands=bands)
    # bucket-aligned write + meta via band_index_core, the write path
    # all four persisted index families share
    band_index_core.write_band_index(
        bk.join(sig, id_col),
        table,
        "band_key",
        {
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "id_col": id_col,
        },
    )


def near_dup_candidates_from_index(
    spark: "SparkSession",
    batch: DataFrame,
    table: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_bucket: int | None = _DEFAULT_MAX_BAND_BUCKET,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Band-collision candidates of ``batch`` against a persisted band
    index: (batch_id, corpus_id, est_jaccard), where est_jaccard is the
    minhash lane-agreement estimate (matching lanes / num_hashes) —
    computed purely from signatures, no corpus text needed.

    ``signatures``: optional precomputed (id, signature) frame for the
    batch, hashed with parameters matching the index metadata (the
    caller's contract to uphold) — skips the batch's tokenize/signature
    pass when another consumer already ran it.

    The batch side's band keys broadcast; the index side is read through
    its bucketed layout, so the only work proportional to the corpus is
    the pruned bucket scan. Hash parameters come from the persisted
    metadata — a probe can't silently disagree with the build.
    """
    from pyspark.sql import SparkSession  # noqa: F401 (typing only)

    from etl_bigquery_pipeline_spark.operators import band_index_core

    meta = band_index_core.read_meta(spark, table)
    sig_b = (
        signatures
        if signatures is not None
        else minhash_signatures(
            batch,
            id_col,
            text_col,
            num_hashes=meta["num_hashes"],
            shingle_n=meta["shingle_n"],
        )
    )
    bk_b = minhash_band_keys(sig_b, id_col, bands=meta["bands"])
    collisions = band_index_core.probe_collisions(
        spark,
        bk_b,
        table,
        ["band_key", "band"],
        index_filter=(
            (lambda idx: _drop_hot_buckets(idx, ["band", "band_key"], max_band_bucket))
            if max_band_bucket is not None
            else None
        ),
    )
    cands = collisions.select(
        F.col(f"b.{id_col}").alias("batch_id"),
        F.col(f"c.{id_col}").alias("corpus_id"),
    ).distinct()
    # The corpus signatures come from the collision rows themselves — the
    # index is never re-scanned or shuffled whole for a probe (its
    # signatures are duplicated x bands, so a bare groupBy(id) over the
    # index would shuffle the full corpus on every probe). This groupBy's
    # input is band collisions only, so per-probe work scales with
    # collisions, not corpus size.
    sig_c = (
        collisions.select(
            F.col(f"c.{id_col}").alias("corpus_id"),
            F.col("c.signature").alias("signature"),
        )
        .groupBy("corpus_id")
        .agg(F.first("signature").alias("__sig_c"))
    )
    lanes = F.aggregate(
        F.zip_with(
            "__sig_b", "__sig_c",
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cands.join(
            F.broadcast(
                sig_b.select(
                    F.col(id_col).alias("batch_id"),
                    F.col("signature").alias("__sig_b"),
                )
            ),
            "batch_id",
        )
        .join(sig_c, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            F.round(
                lanes / F.lit(float(meta["num_hashes"])), 6
            ).alias("est_jaccard"),
        )
    )


def append_to_band_index(
    batch: DataFrame,
    table: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    recovery: bool = False,
) -> None:
    """Incremental band-index maintenance: signature + band keys for the
    batch computed with the PERSISTED hash parameters (a batch can never
    disagree with the build), inserted into the bucketed layout — the
    same daily-ingest shape as ``ann_index.append_to_lsh_index``. Per-
    batch cost is one pass over the batch; the corpus is never touched.
    Id uniqueness across batches is the caller's contract.

    ``recovery=True`` (crash-window replays only, see the marker
    protocol in streaming/batch_commit) anti-joins the batch's
    (id, band) rows against the index first, making the append
    idempotent at the cost of one extra index scan on that rare path.
    The dedupe key must be ROW-level (id, band), not id-level: the
    index holds one row per (doc, band) spread across write tasks by
    the band_key repartition, so a crash mid job-commit can leave a
    PARTIAL subset of a doc's band rows committed — an id-level
    anti-join would then drop the doc's REMAINING band rows,
    permanently under-indexing it (silent recall loss, strictly worse
    than the duplicates the protocol prevents). Mirrors the image
    stream's (id, band, band_val) dhash recovery."""
    from etl_bigquery_pipeline_spark.operators import band_index_core

    spark = batch.sparkSession
    meta = band_index_core.read_meta(spark, table)
    sig = minhash_signatures(
        batch,
        meta["id_col"],
        text_col,
        num_hashes=meta["num_hashes"],
        shingle_n=meta["shingle_n"],
    )
    bk = minhash_band_keys(sig, meta["id_col"], bands=meta["bands"])
    # the append resolves columns by POSITION; this join mirrors the build
    # projection (id, band, band_key, signature) exactly
    band_index_core.append_band_rows(
        bk.join(sig, meta["id_col"]),
        table,
        "band_key",
        dedupe_on=[meta["id_col"], "band"] if recovery else None,
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.5,
    shingle_n: int | None = 3,
) -> DataFrame:
    """AllPairs/PPJoin-style prefix-filtered set-similarity self-join:
    exact Jaccard >= ``threshold`` pairs WITHOUT a quadratic candidate
    step and without MinHash's false-negative risk.

    The filter family (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07; public technique): represent each document as a
    set — word ``shingle_n``-grams by default (pass ``shingle_n=None``
    for single-token sets; shingles are the discriminative choice for
    text, where raw vocabularies are small enough that most pairs share
    most words) — order each set by ascending global element frequency
    (rarest first, ties by element hash so the order is
    engine-reproducible). A pair with jaccard >= t MUST share an element
    within each side's first m - ceil(t*m) + 1 elements (prefix filter),
    and their set sizes must satisfy t*|a| <= |b| <= |a|/t (length
    filter). The self-join therefore joins only exploded PREFIX
    elements — frequency-ordering makes prefixes hit the long tail of
    rare elements, collapsing candidate fan-out versus joining on
    arbitrary elements.

    Candidate pairs are produced by a groupBy COUNT over the prefix
    matches (never a distinct over per-element pair rows), with the
    sound overlap upper bound c + (|a|-p_a) + (|b|-p_b) >= ceil(
    t/(1+t) * (|a|+|b|)) applied before anything touches full element
    arrays (every shared element outside the count is missing from at
    least one prefix, hence lives in that side's suffix).

    Scale shape: two shuffles proportional to corpus shingle mass — the
    element-frequency groupBy (element-hash cardinality) and the prefix
    equi-join + pair-count — and an exact verify join over only the
    surviving pairs with semi-filtered element arrays. Elements are
    xxhash64-hashed once per document: join/shuffle keys and verify
    intersections compare int64s, never strings. No all-pairs stage
    anywhere. Complements MinHash-LSH: exact (zero false negatives)
    where LSH is probabilistic, at the cost of the frequency-ranking
    pass.
    """
    toks = F.array_distinct(tokens(text_col))
    elems = toks if shingle_n is None else shingles(text_col, shingle_n)
    base = (
        widen_if_narrow(df, id_col)
        .select(
            F.col(id_col).alias("__id"),
            F.array_distinct(
                F.transform(elems, lambda t: F.xxhash64(t))
            ).alias("__toks"),
        )
        .select("__id", "__toks", F.size("__toks").alias("__m"))
        .transform(scoped_cache)
    )
    ex = base.select("__id", "__m", F.explode("__toks").alias("__tok"))
    tok_df = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window as _W

    # prefix length p = m - ceil(t*m) + 1 is a pure function of m
    plen = lambda m: m - F.ceil(F.lit(threshold) * m) + 1  # noqa: E731
    pos = (
        ex.join(tok_df, "__tok")
        .withColumn(
            "__pos",
            F.row_number().over(
                _W.partitionBy("__id").orderBy(F.col("__df").asc(), F.col("__tok").asc())
            ),
        )
        .filter(F.col("__pos") <= plen(F.col("__m")))
        .select("__id", "__m", "__tok")
        # consumed twice by the a/b self-join branches: uncached, the
        # explode + df-join + window replays per branch
        .transform(scoped_cache)
    )
    a = pos.select(F.col("__id").alias("id_a"), F.col("__m").alias("na"), "__tok")
    b = pos.select(F.col("__id").alias("id_b"), F.col("__m").alias("nb"), "__tok")
    # Both sides of the prefix-token self-join are corpus-proportional,
    # but Catalyst's STATIC row estimate (window filter selectivity)
    # reads the build side as tiny and plans a broadcast — at the sf10
    # (100x) rehearsal that build died at >1 GiB. Pin to sort-merge:
    # neither side of a self-join may ever be a hash-build side (SMJ
    # spills; a hash build does not). Costs ~1s at bench scale vs the
    # broadcast (6.7 -> 7.6s; shuffle_hash measured slower still at
    # 9.5s), which is the price of surviving any corpus size.
    cand = (
        a.hint("merge").join(b, "__tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") * F.lit(threshold) <= F.col("na"))
            & (F.col("na") * F.lit(threshold) <= F.col("nb"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(
            F.col("__c")
            + (F.col("na") - plen(F.col("na")))
            + (F.col("nb") - plen(F.col("nb")))
            >= F.ceil(
                F.lit(threshold) / (1.0 + threshold) * (F.col("na") + F.col("nb"))
            )
        )
        .select("id_a", "id_b")
        # cached: the id-set derivation and the verify join both consume
        # the candidate set — uncached, the prefix self-join + pair
        # count (the filter's dominant stage) replayed 3x (r11)
        .transform(scoped_cache)
    )
    # verify only surviving candidates: semi-filter the element arrays to
    # candidate ids first (candidate id set is small — AQE broadcasts the
    # semi join), so corpus element arrays never shuffle wholesale
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("__id"))
        .distinct()
    )
    slim = base.join(cand_ids, "__id", "left_semi")
    ta = slim.select(F.col("__id").alias("id_a"), F.col("__toks").alias("__ta"))
    tb = slim.select(F.col("__id").alias("id_b"), F.col("__toks").alias("__tb"))
    # same discipline as minhash_near_dup_pairs' verify joins: the
    # candidate-pair set and the surviving-doc array frames are both
    # unbounded, so the verify joins are pinned to sort-merge too
    scored = (
        cand.hint("merge")
        .join(ta, "id_a")
        .join(tb.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__ta", "__tb")).alias("__i"),
            F.size("__ta").alias("__na"),
            F.size("__tb").alias("__nb"),
        )
        .filter(F.col("__na") + F.col("__nb") - F.col("__i") > 0)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    return scored
