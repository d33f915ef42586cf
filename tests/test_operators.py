"""Operator unit tests: schema ops, coercion, dedup family behavior on
constructed fixtures (planted dups the synthetic corpus lacks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions import coercion
from etl_bigquery_pipeline_spark.functions.text import (
    lang_guess,
    quality_score,
    shingles,
    tokens,
)
from etl_bigquery_pipeline_spark.operators import dedup, schema_ops


# ------------------------------------------------------------ schema ----


def test_looks_packed_sniffs_sample_only(spark):
    packed = spark.createDataFrame([("a,b,c",), ("d,e,f",)], ["col0"])
    plain = spark.createDataFrame([("abc",), ("def",)], ["col0"])
    assert schema_ops.looks_packed(packed)
    assert not schema_ops.looks_packed(plain)


def test_impose_schema_splits_or_renames(spark):
    names = ["a", "b", "c"]
    packed = spark.createDataFrame([("1,2,3",)], ["blob"])
    out = schema_ops.impose_schema(packed, names)
    assert out.columns == names
    assert out.first().asDict() == {"a": "1", "b": "2", "c": "3"}

    wide = spark.createDataFrame([(1, 2, 3)], ["x", "y", "z"])
    out2 = schema_ops.impose_schema(wide, names)
    assert out2.columns == names


def test_rename_keeps_extra_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["x", "y", "extra"])
    out = schema_ops.rename_positional(df, ["a", "b"])
    assert out.columns == ["a", "b", "extra"]


# ---------------------------------------------------------- coercion ----


def test_coercion_invalid_to_null(spark):
    df = spark.createDataFrame(
        [("2024-01-01", "42", "3.5"), ("garbage", "x", "y")],
        ["d", "i", "f"],
    )
    out = df.select(
        coercion.to_timestamp_or_null("d").alias("d"),
        coercion.to_long_or_null("i").alias("i"),
        coercion.to_double_or_null("f").alias("f"),
    ).collect()
    assert out[0].i == 42 and out[0].f == 3.5 and out[0].d is not None
    assert out[1].d is None and out[1].i is None and out[1].f is None


def test_long_coercion_truncates_like_pandas(spark):
    """pd.to_numeric('3.7').astype(int64) truncates -> 3."""
    df = spark.createDataFrame([("3.7",)], ["v"])
    assert df.select(coercion.to_long_or_null("v").alias("v")).first().v == 3


# ------------------------------------------------------------- dedup ----


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the  quick   brown fox jumps over the lazy dog"),  # ws-variant
        (4, "the quick brown fox jumps over the lazy cat today"),  # near-dup
        (5, "completely different content about spark engines here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_is_whitespace_insensitive(spark):
    out = dedup.dedup_exact_text(_docs(spark), "doc_id", "text")
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 4, 5]  # 2 and 3 collapse into 1


def test_minhash_lsh_finds_planted_near_dup(spark):
    # bands=16 -> 1 lane per band: any shared minhash makes a candidate
    # (recall ~1 even for moderate jaccard). The default 4x4 banding is
    # tuned for ~0.7+ similarity and would legitimately miss a j~0.45
    # pair ~85% of the time.
    pairs = dedup.minhash_near_dup_pairs(
        _docs(spark), "doc_id", "text", threshold=0.3, bands=16
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found and (1, 3) in found  # exact dups always pair
    assert (1, 4) in found  # the near-dup
    assert not any(5 in p for p in found)  # unrelated doc never pairs


def test_minhash_respects_threshold(spark):
    pairs = dedup.minhash_near_dup_pairs(
        _docs(spark), "doc_id", "text", threshold=0.999
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 4) not in found  # near-dup below exact-match threshold
    assert (1, 2) in found


def test_minhash_band_keys_cover_remainder_lanes(spark):
    """num_hashes % bands != 0: the last band must absorb the remainder
    lanes — signatures differing ONLY in a trailing lane need different
    last-band keys (floor-sliced banding silently dropped those lanes)."""
    from pyspark.sql import functions as F

    sig_a = [f"{i:08x}" for i in range(18)]
    sig_b = sig_a[:17] + ["ffffffff"]  # differs only in lane 17
    sigs = spark.createDataFrame(
        [(1, sig_a), (2, sig_b)], ["doc_id", "signature"]
    )
    bk = dedup.minhash_band_keys(sigs, "doc_id", bands=4)
    last = {
        r.doc_id: r.band_key
        for r in bk.filter(F.col("band") == 3).collect()
    }
    assert last[1] != last[2]


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.0, block_width=10
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 0.0


def test_simhash_near_dup_hamming(spark):
    # nibbles=8 keeps the (deliberately large) simhash expression tree
    # small enough for fast test planning; production uses 15
    pairs = dedup.simhash_near_dup_pairs(
        _docs(spark), "doc_id", "text", max_hamming=8, nibbles=8
    ).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((1, 2)) == 0  # identical docs -> identical simhash
    assert found.get((1, 3)) == 0  # whitespace-insensitive

    # banded LSH guarantees recall only near distance 0; the distance
    # function itself must still separate near-dup from unrelated:
    sh = dedup.with_simhash(_docs(spark), "text", nibbles=8).select(
        "doc_id", F.col("simhash").alias("h")
    )
    hx = {r.doc_id: r.h for r in sh.collect()}

    def ham(a: str, b: str) -> int:
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    near, far = ham(hx[1], hx[4]), ham(hx[1], hx[5])
    assert 0 < near < far


def test_simhash_hamming_fast_path_reads_declared_width(spark):
    """The <=15-nibble bigint fast path must read exactly ``nibbles``
    hex chars: hex wider than the declared width previously overflowed
    the ANSI bigint cast where the per-nibble loop compared a prefix
    (r11 ADVICE #3). Both branches must agree on the declared width."""
    df = spark.createDataFrame(
        [("deadbeefcafe0123f", "deadbeefcafe01230")], ["a", "b"]
    )
    # 17 hex chars with nibbles=15: prefix (15 chars) is compared, the
    # differing 16th/17th chars are out of the declared width -> 0
    fast = df.select(
        dedup.simhash_hamming(F.col("a"), F.col("b"), nibbles=15).alias("d")
    ).first()["d"]
    assert fast == 0
    # narrower widths read their own prefix; the per-nibble loop (>15) is
    # checked against this path in the next test
    w8 = df.select(
        dedup.simhash_hamming(F.col("a"), F.col("b"), nibbles=8).alias("d")
    ).first()["d"]
    assert w8 == 0
    df2 = spark.createDataFrame([("ff00", "0f01")], ["a", "b"])
    fast4 = df2.select(
        dedup.simhash_hamming(F.col("a"), F.col("b"), nibbles=4).alias("d")
    ).first()["d"]
    assert fast4 == bin(0xFF00 ^ 0x0F01).count("1")


def test_simhash_hamming_nibble_loop_matches_fast_path(spark):
    """nibbles >= 16 takes the per-nibble loop. On 17-hex-char inputs
    whose 16th nibble agrees, the loop at width 16 must equal the bigint
    fast path at width 15, and each width must match the bit count of
    the XOR over exactly that prefix."""
    pairs = [
        ("0123456789abcde7f", "fedcba98765432170"),
        ("deadbeefcafe0123f", "deadbeefcafe01230"),
        ("ffffffffffffffff0", "0000000000000000f"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    a, b = F.col("a"), F.col("b")
    rows = df.select(
        dedup.simhash_hamming(a, b, nibbles=15).alias("w15"),
        dedup.simhash_hamming(a, b, nibbles=16).alias("w16"),
        dedup.simhash_hamming(a, b, nibbles=17).alias("w17"),
    ).collect()

    def ham(x: str, y: str, w: int) -> int:
        return bin(int(x[:w], 16) ^ int(y[:w], 16)).count("1")

    for (x, y), r in zip(pairs, rows):
        assert (r.w15, r.w16, r.w17) == (ham(x, y, 15), ham(x, y, 16), ham(x, y, 17))
        if x[15] == y[15]:
            assert r.w16 == r.w15
    assert rows[2].w16 == rows[2].w15 + 4  # the 16th nibbles differ in 4 bits


# ----------------------------------------------------------- text fns ----


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([(" a  b c d ",)], ["t"])
    row = df.select(
        tokens("t").alias("toks"), shingles("t", 2).alias("sh")
    ).first()
    assert row.toks == ["a", "b", "c", "d"]
    assert row.sh == ["a b", "b c", "c d"]


def test_lang_guess_picks_marker_language(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of the house",),
            ("el gato y la casa de que si",),
            ("der hund und die katze das haus",),
        ],
        ["t"],
    )
    out = [r.g for r in df.select(lang_guess("t").alias("g")).collect()]
    assert out == ["en", "es", "de"]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("the quick brown fox of the meadow and a stream to behold",),
         ("x",)],
        ["t"],
    )
    scores = [r.q for r in df.select(quality_score("t").alias("q")).collect()]
    assert 0.0 <= scores[1] < scores[0] <= 1.0


def test_operator_caches_are_bounded_and_scoped(spark, monkeypatch):
    """Round-2 verdict item: operator-internal caches must have an owner.
    Repeated invocation in one session must not grow cached partitions
    (bounded registry), cache_scope() must release deterministically, and
    strict mode must refuse an unscoped cache outright."""
    import pytest

    from etl_bigquery_pipeline_spark.operators import caching

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(40)],
        "doc_id bigint, text string",
    )

    def n_persistent() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    # simulate an unscoped interactive session: no active cache_scope
    # (conftest's autouse scope is parked) and strict mode off
    monkeypatch.delenv(caching.STRICT_ENV, raising=False)
    saved = caching._scopes[:]
    caching._scopes.clear()
    try:
        counts = []
        for _ in range(caching.MAX_LIVE_CACHES + 4):
            dedup.minhash_near_dup_pairs(docs, "doc_id", "text").collect()
            counts.append(n_persistent())
        # plateau, not linear growth: the last iterations add nothing
        assert counts[-1] <= caching.MAX_LIVE_CACHES
        assert counts[-1] == counts[-2] == counts[-3]

        # strict mode: the same unscoped call is refused loudly
        monkeypatch.setenv(caching.STRICT_ENV, "1")
        with pytest.raises(caching.UnscopedCacheError):
            dedup.minhash_near_dup_pairs(docs, "doc_id", "text")
    finally:
        caching._scopes.extend(saved)

    before = n_persistent()
    with caching.cache_scope():
        dedup.minhash_near_dup_pairs(docs, "doc_id", "text").collect()
    assert n_persistent() <= before  # scope released its caches


def test_near_dup_clusters_close_transitively(spark):
    """A~B and B~C must land A,B,C in ONE cluster (pairwise dedup alone
    would keep both B and C); canonical_per_cluster keeps exactly the
    minimum id per component and passes unpaired docs through."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a bigint, id_b bigint",
    )
    clusters = {
        r.node: r.cluster_id for r in dedup.near_dup_clusters(pairs).collect()
    }
    assert clusters == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                        20: 20, 21: 20, 22: 20, 23: 20}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 10, 11, 50)],
        "doc_id bigint, text string",
    )
    kept = dedup.canonical_per_cluster(
        docs, dedup.near_dup_clusters(pairs)
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 10, 50]


def test_near_dup_clusters_long_chain_converges(spark):
    """A path graph exercises multi-round propagation (diameter > 1)."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
    )
    out = dedup.near_dup_clusters(pairs).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == n + 1


def test_near_dup_clusters_empty_pairs(spark):
    """No pairs => no clusters; the label-sum convergence probe must
    treat the empty (None-sum) label table as an immediate fixpoint
    instead of looping max_iterations times."""
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dedup.near_dup_clusters(pairs).collect() == []


def test_scd2_apply_versions_changes_only(spark):
    """Changed attributes close + reopen; identical updates are no-ops
    (no version churn); new keys insert; closed history passes through."""
    import datetime as dt

    from etl_bigquery_pipeline_spark.operators import scd

    dim = scd.scd2_init(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k bigint, name string, bal double",
        ),
        valid_from="2024-01-01",
    )
    updates = spark.createDataFrame(
        [
            (1, "a", 99.0),   # changed -> close + reopen
            (2, "b", 20.0),   # identical -> NO-OP
            (9, "z", 1.0),    # new key -> insert
        ],
        "k bigint, name string, bal double",
    )
    out = scd.scd2_apply(dim, updates, ["k"], effective_date="2024-06-01")
    rows = sorted(
        (tuple(r) for r in out.collect()), key=lambda t: (t[0], str(t[3]))
    )
    d = dt.date
    assert rows == [
        (1, "a", 10.0, d(2024, 1, 1), d(2024, 6, 1), False),
        (1, "a", 99.0, d(2024, 6, 1), None, True),
        (2, "b", 20.0, d(2024, 1, 1), None, True),
        (3, "c", 30.0, d(2024, 1, 1), None, True),
        (9, "z", 1.0, d(2024, 6, 1), None, True),
    ]

    # a second batch over the merged state must not disturb closed rows
    out2 = scd.scd2_apply(
        out,
        spark.createDataFrame([(1, "a", 100.0)], "k bigint, name string, bal double"),
        ["k"],
        effective_date="2024-09-01",
    )
    one = sorted(
        (tuple(r) for r in out2.filter("k = 1").collect()),
        key=lambda t: str(t[3]),
    )
    assert one == [
        (1, "a", 10.0, d(2024, 1, 1), d(2024, 6, 1), False),
        (1, "a", 99.0, d(2024, 6, 1), d(2024, 9, 1), False),
        (1, "a", 100.0, d(2024, 9, 1), None, True),
    ]


def test_zorder_layout_shrinks_file_bounding_boxes(spark, sf_dir, tmp_path):
    """The point of Z-ordering is visible in parquet footers: after
    zorder_repartition each file's min-max range must be narrow on BOTH
    interleaved columns (so filters on either prune most files), whereas
    a single-column sort leaves the other column's per-file range at
    full width."""
    import pyarrow.parquet as pq

    from etl_bigquery_pipeline_spark.operators import layout
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    # two balanced 8-bit dimensions (z-order needs comparable key widths
    # to interleave usefully — a 10-value column can't be subdivided by
    # top-bit range cuts, same as in any real z-order deployment)
    li = read_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_orderkey") % 256).alias("y"),
    )
    n_files = 16

    by_x = str(tmp_path / "by_x")
    (
        li.repartitionByRange(n_files, "x")
        .sortWithinPartitions("x")
        .write.parquet(by_x)
    )
    zordered = str(tmp_path / "zordered")
    layout.zorder_repartition(
        li, "x", "y", num_files=n_files
    ).write.parquet(zordered)

    def avg_range(path: str, col: str) -> float:
        import glob
        import os

        widths = []
        for f in glob.glob(os.path.join(path, "part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(
                    [md.schema.column(i).name for i in range(md.num_columns)].index(col)
                ).statistics
                lo = stats.min if lo is None else min(lo, stats.min)
                hi = stats.max if hi is None else max(hi, stats.max)
            widths.append(hi - lo)
        return sum(widths) / len(widths)

    # the x-sort leaves y at ~full width per file; z-order must shrink
    # the bounding box on BOTH dimensions at once
    full_y = avg_range(by_x, "y")
    z_x = avg_range(zordered, "x")
    z_y = avg_range(zordered, "y")
    assert full_y > 200  # sanity: single-column sort doesn't cluster y
    assert z_x < 100, z_x
    assert z_y < 100, z_y


def test_global_row_number_and_ntile_match_sql_semantics(spark):
    """with_global_row_number must equal ROW_NUMBER() over the same total
    order, and ntile_from_row_number must equal SQL NTILE(k) — including
    the uneven-bucket remainder rule — for sizes around the bucket count."""
    from etl_bigquery_pipeline_spark.operators import windows as W

    for n in (1, 3, 4, 7, 10, 13):
        df = spark.createDataFrame(
            [(i, (i * 37) % n) for i in range(n)], "id bigint, v bigint"
        )
        got, total = W.with_global_row_number(df, ["v", "id"], rn_col="rn")
        assert total == n
        rows = got.select(
            "id", "rn", W.ntile_from_row_number(F.col("rn"), n, 4).alias("q")
        )
        expect = df.selectExpr(
            "id",
            "row_number() over (order by v, id) as rn",
            "ntile(4) over (order by v, id) as q",
        )
        assert {tuple(r) for r in rows.collect()} == {
            tuple(r) for r in expect.collect()
        }
    spark.catalog.clearCache()


def test_global_row_number_descending_order(spark):
    """Descending order keys (documented supported via F.col(c).desc())
    must number high-to-low identically to ROW_NUMBER() OVER (ORDER BY v
    DESC, id) at any partition count — repartitionByRange must range the
    partitions along the DESCENDING order for the offsets to line up."""
    from etl_bigquery_pipeline_spark.operators import windows as W

    n = 37
    df = spark.createDataFrame(
        [(i, (i * 13) % 11) for i in range(n)], "id bigint, v bigint"
    )
    expect = {
        (r.id, r.rn)
        for r in df.selectExpr(
            "id", "row_number() over (order by v desc, id) as rn"
        ).collect()
    }
    for par in (1, 4, 9):
        got, total = W.with_global_row_number(
            df, [F.col("v").desc(), F.col("id")], rn_col="rn", partitions=par
        )
        assert total == n
        assert {(r.id, r.rn) for r in got.select("id", "rn").collect()} == expect
    spark.catalog.clearCache()


def test_compact_small_files(spark, tmp_path):
    from etl_bigquery_pipeline_spark.operators.layout import compact_small_files

    src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dest = str(tmp_path / "li_small")
    src.repartition(16).write.parquet(dest)  # 16 tiny files

    before = src.count()
    stats = compact_small_files(spark, dest, target_file_bytes=1 << 30)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1  # everything fits one target file
    back = spark.read.parquet(dest)
    assert back.count() == before
    assert set(back.columns) == set(src.columns)

    # clustered compaction preserves a sort column's file-level locality
    stats2 = compact_small_files(
        spark, dest, target_file_bytes=1, order_by=["l_orderkey"]
    )
    assert stats2["files_after"] >= 2
    assert spark.read.parquet(dest).count() == before


def test_compact_small_files_hive_partitioned(spark, tmp_path):
    """Compaction on a hive-partitioned directory (including the nested
    batch_id=N/event_date=D layout the streaming sinks write) must
    compact each leaf IN PLACE: layout preserved, partition columns stay
    path-only, per-partition overwrite replay still targets its own dir."""
    import os

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators.layout import (
        compact_small_files,
    )

    df = spark.range(200).withColumn(
        "grp", (F.col("id") % 2).cast("string")
    )
    dest = str(tmp_path / "part")
    for b in (0, 1):
        (
            df.repartition(4)
            .write.mode("overwrite")
            .partitionBy("grp")
            .parquet(f"{dest}/batch_id={b}")
        )

    before = spark.read.parquet(dest)
    n_before = before.count()
    stats = compact_small_files(spark, dest, target_file_bytes=1 << 30)
    assert stats["files_before"] == 16  # 2 batches x 2 grps x 4 files
    assert stats["files_after"] == 4   # one per leaf partition
    back = spark.read.parquet(dest)
    assert back.count() == n_before
    # partition discovery intact: batch_id/grp still come from the path
    assert {"batch_id", "grp"} <= set(back.columns)
    def _dirs(p):
        return sorted(d for d in os.listdir(p) if "=" in d)

    assert _dirs(dest) == ["batch_id=0", "batch_id=1"]
    assert _dirs(f"{dest}/batch_id=0") == ["grp=0", "grp=1"]
    # data files must NOT contain the partition columns (path-only)
    leaf = f"{dest}/batch_id=0/grp=0"
    raw = spark.read.parquet(
        *[f"{leaf}/{f}" for f in os.listdir(leaf) if f.endswith(".parquet")]
    )
    assert "grp" not in raw.columns and "batch_id" not in raw.columns
    # a replayed batch overwrite still lands cleanly in its own dir
    df.limit(10).write.mode("overwrite").partitionBy("grp").parquet(
        f"{dest}/batch_id=1"
    )
    assert spark.read.parquet(dest).count() == 200 + 10

    # mixed data-files + partition-dirs layout is refused
    import pytest as _pytest

    mixed = str(tmp_path / "mixed")
    df.limit(5).write.parquet(mixed)
    df.limit(5).write.parquet(f"{mixed}/grp=9")
    with _pytest.raises(ValueError, match="mixes data files"):
        compact_small_files(spark, mixed)


def test_drop_partitions_before(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators.layout import (
        drop_partitions_before,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dest = str(tmp_path / "events_part")
    e.withColumn("event_date", F.to_date("ts").cast("string")).write.partitionBy(
        "event_date"
    ).parquet(dest)

    # partition discovery re-infers the column as DATE; compare as strings
    dates = sorted(
        str(r.event_date)
        for r in spark.read.parquet(dest).select("event_date").distinct().collect()
    )
    assert len(dates) > 2
    cutoff = dates[len(dates) // 2]

    stats = drop_partitions_before(dest, "event_date", cutoff)
    assert stats["dropped"] == [d for d in dates if d < cutoff]

    back = spark.read.parquet(dest)
    remaining = {str(r.event_date) for r in back.select("event_date").distinct().collect()}
    assert remaining == {d for d in dates if d >= cutoff}
    expected = e.filter(F.to_date("ts").cast("string") >= cutoff).count()
    assert back.count() == expected


def test_with_global_running_sums_matches_serial(spark):
    """Distributed running sums == serial prefix sums for any partition
    count (integer partials are merge-order exact)."""
    import random

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import windows

    rnd = random.Random(7)
    rows = [(float(v), rnd.randint(0, 5), rnd.randint(0, 3))
            for v in rnd.sample(range(1000), 200)]
    df = spark.createDataFrame(rows, "v double, a long, b long")
    for par in (1, 3, 8):
        got = {
            r.v: (r.cum_a, r.cum_b)
            for r in windows.with_running_sums(
                df, ["v"], ["a", "b"], partitions=par
            )[0].collect()
        }
        acc_a = acc_b = 0
        for v, a, b in sorted(rows):
            acc_a += a
            acc_b += b
            assert got[v] == (acc_a, acc_b), (par, v)


def test_with_grouped_running_sums_matches_serial(spark):
    """Grouped range-partitioned running sums == per-group serial prefix
    sums for any partition count — including partition counts that force
    a single group to SPAN partitions (the scale case the helper exists
    for: few corpus-proportional groups)."""
    import random

    from etl_bigquery_pipeline_spark.operators import windows

    rnd = random.Random(11)
    rows = [
        (["x", "y", "z"][rnd.randint(0, 2)], float(v), rnd.randint(0, 5))
        for v in rnd.sample(range(1000), 240)
    ]
    df = spark.createDataFrame(rows, "g string, v double, c long")
    serial = {}
    acc = {}
    for g, v, c in sorted(rows):
        acc[g] = acc.get(g, 0) + c
        serial[(g, v)] = acc[g]
    for par in (1, 2, 16):
        got = {
            (r.g, r.v): r.cum_c
            for r in windows.with_running_sums(
                df, ["v"], ["c"], group_by=["g"], partitions=par
            )[0].collect()
        }
        assert got == serial, par


def test_with_running_sums_keeps_decimal_and_double_sums(spark):
    """Decimal and double running sums keep the sum's type (the offset
    map is cast to it) and match the serial prefix sums: decimals
    exactly, doubles to rounding (partition offsets add in another
    order than the serial scan), per group including a NULL group and
    along a descending order."""
    import random
    from decimal import Decimal

    from etl_bigquery_pipeline_spark.operators import windows

    rnd = random.Random(5)
    rows = [
        (
            [None, "x", "y"][rnd.randint(0, 2)],
            v,
            Decimal(rnd.randint(0, 10**6)) / 10**4,
            rnd.random(),
        )
        for v in rnd.sample(range(1000), 150)
    ]
    df = spark.createDataFrame(
        rows, "g string, v bigint, d decimal(18,4), x double"
    )
    serial, acc = {}, {}
    for g, v, d, x in sorted(rows, key=lambda r: -r[1]):
        a = acc.setdefault(g, [Decimal(0), 0.0])
        a[0] += d
        a[1] += x
        serial[v] = (a[0], a[1])
    for par in (1, 3, 8):
        out, totals = windows.with_running_sums(
            df, [F.col("v").desc()], ["d", "x"], group_by=["g"],
            partitions=par,
        )
        types = {f.name: f.dataType.simpleString() for f in out.schema}
        assert types["cum_d"] == "decimal(28,4)" and types["cum_x"] == "double"
        got = {r.v: (r.cum_d, r.cum_x) for r in out.collect()}
        assert {v: d for v, (d, _) in got.items()} == {
            v: d for v, (d, _) in serial.items()
        }, par
        for v, (_, x) in serial.items():
            assert abs(got[v][1] - x) <= 1e-9 * max(1.0, x), (par, v)
        assert totals["d"] == sum(r[2] for r in rows)


def test_prefix_sums_on_empty_input_and_all_null_group(spark):
    """Every prefix-sum entry point returns a typed empty frame on an
    empty input (an untyped empty offset map once failed to resolve:
    ``map()[__gpid]``), with a row-number total of 0. The grouped sum
    keeps a NULL group as its own group, as ``Window.partitionBy`` does
    (r9 ADVICE: schema inference of the offsets once failed on an
    all-NULL group column)."""
    from etl_bigquery_pipeline_spark.operators import packing, sampling
    from etl_bigquery_pipeline_spark.operators import windows

    empty = spark.createDataFrame([], "g string, v double, c long")
    for group_by in ([], ["g"]):
        out, totals = windows.with_running_sums(
            empty, ["v"], ["c"], group_by=group_by, partitions=4
        )
        assert out.collect() == [] and totals == {"c": 0}
        assert out.columns == ["g", "v", "c", "cum_c"]
        assert out.schema["cum_c"].dataType.simpleString() == "bigint"
    out, total = windows.with_global_row_number(
        empty, ["v"], rn_col="rn", partitions=4
    )
    assert out.collect() == [] and total == 0
    assert out.columns == ["g", "v", "c", "rn"]
    out = sampling.with_stable_ids_distributed(
        empty, ["v"], id_col="rid", partitions=4
    )
    assert out.collect() == [] and out.columns == ["g", "v", "c", "rid"]
    out = packing.pack_global_distributed(
        empty, size_col="c", order_by=["v"], budget=10, partitions=4
    )
    assert out.collect() == [] and out.columns == ["g", "v", "c", "pack_id"]

    nulls = spark.createDataFrame(
        [(None, 1.0, 2), (None, 2.0, 3), (None, 3.0, 5)],
        "g string, v double, c long",
    )
    out, totals = windows.with_running_sums(
        nulls, ["v"], ["c"], group_by=["g"], partitions=4
    )
    assert {r.v: r.cum_c for r in out.collect()} == {1.0: 2, 2.0: 5, 3.0: 10}
    assert totals == {"c": 10}


def test_triangle_count_known_graphs(spark):
    from etl_bigquery_pipeline_spark.operators import graph

    def count(pairs):
        df = spark.createDataFrame(pairs, "a long, b long")
        e = graph.undirected_edges(df, "a", "b")
        r = graph.triangle_count(e).first()
        return r.n_edges, r.n_triangles

    # K4: 6 edges, 4 triangles (duplicate/reversed pairs collapse)
    k4 = [(i, j) for i in range(4) for j in range(4) if i != j]
    assert count(k4) == (6, 4)
    # path graph: no triangles
    assert count([(1, 2), (2, 3), (3, 4)]) == (3, 0)
    # triangle + pendant edge + hub star (skew: hub 0 in every edge)
    star = [(0, k) for k in range(1, 20)] + [(1, 2)]
    assert count(star) == (20, 1)
    # self-loops are dropped
    assert count([(1, 1), (1, 2), (2, 3), (1, 3)]) == (3, 1)


def test_doulion_sample_and_estimate(spark):
    """DOULION properties that must hold at any scale: the sample is a
    deterministic md5-keyed subset (stable across runs and engines),
    keep_den/keep_den keeps everything, and the p=1 estimate equals the
    exact count times 1.0 — the estimator is exact when nothing is
    dropped."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import graph

    k6 = [(i, j) for i in range(6) for j in range(6) if i < j]
    e = graph.undirected_edges(
        spark.createDataFrame(k6, "a long, b long"), "a", "b"
    )
    # p = 1: no edge dropped, estimate exact (K6 = 20 triangles)
    full = graph.doulion_triangle_estimate(e, keep_num=10, keep_den=10).first()
    assert (full.n_edges_sampled, full.n_triangles_sampled) == (15, 20)
    assert full.triangles_est == 20.0
    # deterministic: two samplings at p=0.2 are identical sets
    s1 = {(r.u, r.v) for r in graph.doulion_sample(e).collect()}
    s2 = {(r.u, r.v) for r in graph.doulion_sample(e).collect()}
    assert s1 == s2
    assert s1 <= {(min(a, b), max(a, b)) for a, b in k6}


def test_triangle_counts_with_flag_matches_subgraph_count(spark):
    """The single-pass flagged count (estimator-gate fast path) must
    equal the two-pass ground truth: n_triangles_flagged == an
    independent triangle_count over the flag-induced subgraph, and an
    all-true flag degenerates to the exact count."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import graph

    k6 = [(i, j) for i in range(6) for j in range(6) if i < j]
    e = graph.undirected_edges(
        spark.createDataFrame(k6, "a long, b long"), "a", "b"
    )
    flagged = e.withColumn("keep", graph.doulion_coin(keep_num=5, keep_den=10))
    one = graph.triangle_counts_with_flag(flagged, "keep").first()
    two = graph.triangle_count(flagged.filter("keep").select("u", "v")).first()
    assert (one.n_edges, one.n_triangles) == (15, 20)
    assert one.n_edges_flagged == two.n_edges
    assert one.n_triangles_flagged == two.n_triangles
    allkeep = graph.triangle_counts_with_flag(
        e.withColumn("keep", F.lit(True)), "keep"
    ).first()
    assert allkeep.n_triangles_flagged == allkeep.n_triangles == 20
    # the estimate scales the sampled count by exactly 1/p^3 = 125
    est = graph.doulion_triangle_estimate(e).first()
    assert est.triangles_est == est.n_triangles_sampled * 125.0


def test_pagerank_structure_and_symmetry(spark):
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import graph

    # star: hub must outrank leaves; all leaves tie exactly
    star = spark.createDataFrame(
        [(0, k) for k in range(1, 9)], "a long, b long"
    )
    pr = {r.node: r.pr for r in graph.pagerank_scaled(
        graph.undirected_edges(star, "a", "b")).collect()}
    assert pr[0] > max(pr[k] for k in range(1, 9))
    assert len({pr[k] for k in range(1, 9)}) == 1
    # total mass conserved (teleport form): sum pr ~= N
    assert abs(sum(pr.values()) - 9) < 1e-3
    # vertex-transitive cycle: every node identical
    cyc = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "a long, b long"
    )
    prc = {r.node: r.pr for r in graph.pagerank_scaled(
        graph.undirected_edges(cyc, "a", "b")).collect()}
    assert len(set(prc.values())) == 1


def test_connected_components_known_graphs(spark):
    from etl_bigquery_pipeline_spark.operators import graph

    def comp(pairs):
        df = spark.createDataFrame(pairs, "a long, b long")
        e = graph.undirected_edges(df, "a", "b")
        return {r.node: r.component_id
                for r in graph.connected_components(e).collect()}

    # two separate chains + an isolated pair
    got = comp([(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)])
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12] == 10
    assert got[20] == got[21] == 20
    # a long path (pointer doubling must converge within log rounds)
    path = [(i, i + 1) for i in range(100)]
    got = comp(path)
    assert set(got.values()) == {0} and len(got) == 101


def test_mannwhitney_matches_independent_reference(spark):
    """The distributed U statistic equals a serial, independently-written
    average-rank implementation on the same data (guards against a
    same-formula-twice bug between the query and its SQL oracle)."""
    import math

    from etl_bigquery_pipeline_spark.plans import catalog

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    rows = df.filter(
        "c_mktsegment IN ('BUILDING','MACHINERY')"
    ).select("c_mktsegment", "c_acctbal").collect()
    a = sorted(r.c_acctbal for r in rows if r.c_mktsegment == "BUILDING")
    b = sorted(r.c_acctbal for r in rows if r.c_mktsegment == "MACHINERY")
    # serial reference: sort combined, assign average ranks, sum over A
    combined = sorted([(v, 0) for v in a] + [(v, 1) for v in b])
    ranks = {}
    i = 0
    while i < len(combined):
        j = i
        while j < len(combined) and combined[j][0] == combined[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2.0  # mean of ranks i+1..j
        ranks[combined[i][0]] = avg_rank
        i = j
    r_a = sum(ranks[v] for v in a)
    u_a = r_a - len(a) * (len(a) + 1) / 2.0

    got = catalog.QUERIES["mannwhitney_u_acctbal"](
        spark, "/root/testdata/sf0.001"
    ).first()
    assert got.n_a == len(a) and got.n_b == len(b)
    assert got.u2 == int(round(2 * u_a))
    assert math.isfinite(got.z_score)


def test_unigram_xent_matches_independent_reference(spark):
    """The distributed cross-entropy equals a serial pure-python unigram
    LM on the same corpus (independent implementation, exact to 6dp)."""
    import math
    from collections import Counter

    from etl_bigquery_pipeline_spark.plans import catalog

    docs = {
        r.doc_id: r.text.split()
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    vocab = Counter(w for toks in docs.values() for w in toks)
    n = sum(vocab.values())
    v = len(vocab)
    want = {
        d: round(
            -sum(math.log((vocab[w] + 1) / (n + v)) for w in toks)
            / len(toks),
            6,
        )
        for d, toks in docs.items()
        if toks
    }
    got = {
        r.doc_id: r.xent
        for r in catalog.QUERIES["unigram_xent_scores"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(got) == set(want)
    off = [d for d in want if abs(got[d] - want[d]) > 2e-6]
    assert not off, off[:5]
    assert all(x > 0 for x in got.values())


def test_bigram_backoff_matches_independent_reference(spark):
    """Distributed bigram-LM scoring equals a serial pure-python stupid-
    backoff implementation, and reversed probes score worse than
    originals (word-order sensitivity the unigram LM cannot see)."""
    import math
    from collections import Counter

    from etl_bigquery_pipeline_spark.plans import catalog

    docs = {
        r.doc_id: r.text.split()
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    uni = Counter(w for ts in docs.values() for w in ts)
    n, v = sum(uni.values()), len(uni)
    big = Counter(
        (ts[i], ts[i + 1]) for ts in docs.values() for i in range(len(ts) - 1)
    )

    def score(ts):
        lps = []
        for i in range(len(ts) - 1):
            w1, w2 = ts[i], ts[i + 1]
            if (w1, w2) in big:
                lps.append(math.log(big[(w1, w2)] / uni[w1]))
            else:
                lps.append(
                    math.log(0.4) + math.log((uni.get(w2, 0) + 1) / (n + v))
                )
        return round(-sum(lps) / len(lps), 6)

    by_kind = {"orig": [], "reversed": []}
    for d, ts in docs.items():
        if len(ts) < 2:
            continue
        if d % 2 == 0:
            by_kind["orig"].append(score(ts))
        else:
            by_kind["reversed"].append(score(list(reversed(ts))))
    want = {
        k: (len(vs), round(sum(vs) / len(vs), 6)) for k, vs in by_kind.items()
    }
    got = {
        r.kind: (r.n_docs, r.avg_xent2)
        for r in catalog.QUERIES["bigram_backoff_xent"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 5e-6, (k, got[k], want[k])
    assert got["reversed"][1] > got["orig"][1]


def test_prefix_filter_jaccard_is_lossless(spark):
    """The prefix+length filters must lose NO pair above threshold:
    compare against brute-force Jaccard on a corpus with known overlaps."""
    from itertools import combinations

    from etl_bigquery_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),      # 4/6 with doc 1
        (3, "alpha beta gamma delta epsilon"),   # identical to doc 1
        (4, "one two three four five"),
        (5, "one two three four six"),           # 4/6 with doc 4
        (6, "totally different words here now"),
        (7, "alpha beta unrelated tail words"),  # 2/8 with doc 1 — below
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.5
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(df, threshold=t, shingle_n=None).collect()
    }
    sets = {i: set(s.split()) for i, s in docs}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        j = inter / len(sets[a] | sets[b])
        if j >= t:
            want[(a, b)] = round(j, 6)
    assert got == want


def test_negative_samples_exclude_edges_and_are_deterministic(spark):
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import graph

    # path graph 1-2-3-4 plus isolated-ish 5 connected to 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5)], "u long, v long"
    )
    probes = spark.createDataFrame([(1,), (3,)], "node long")
    out = graph.negative_samples(edges, probes, k=2).collect()
    got = {(r.probe, r.negative) for r in out}
    # probe 1 is adjacent to 2 and 5 -> negatives from {3, 4}
    assert {p for p, n in got if p == 1} == {1}
    assert {n for p, n in got if p == 1} == {3, 4}
    # probe 3 is adjacent to 2 and 4 -> negatives from {1, 5}
    assert {n for p, n in got if p == 3} == {1, 5}
    again = {(r.probe, r.negative, r.rnk) for r in
             graph.negative_samples(edges, probes, k=2).collect()}
    assert again == {(r.probe, r.negative, r.rnk) for r in out}


def test_negative_samples_prefilter_matches_bruteforce(spark):
    """The r10 hash-prefix prefilter (shuffle-volume fix: the naive plan
    shuffled probes x |V| rows, ~8e9 at sf10) must be invisible in the
    output: on a graph large enough that the 32-bit threshold actually
    drops candidates, the result equals a serial brute-force rank over
    ALL non-adjacent candidates."""
    import hashlib
    import random

    from etl_bigquery_pipeline_spark.operators import graph

    rnd = random.Random(7)
    n = 600  # thresh = 2^32*256/600 keeps ~43% of candidates
    pairs = {
        (min(a, b), max(a, b))
        for a, b in (
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(1500)
        )
        if a != b
    }
    edges = spark.createDataFrame(sorted(pairs), "u long, v long")
    probe_ids = [0, 7, 123, 599]
    probes = spark.createDataFrame([(i,) for i in probe_ids], "node long")
    got = {
        (r.probe, r.negative, r.rnk)
        for r in graph.negative_samples(edges, probes, k=5).collect()
    }
    nodes = sorted({x for e in pairs for x in e})
    adj = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    want = set()
    for pr in probe_ids:
        cands = [
            c for c in nodes if c != pr and (pr, c) not in adj
        ]
        ranked = sorted(
            cands,
            key=lambda c: (
                hashlib.md5(f"negs:{pr}:{c}".encode()).hexdigest(),
                c,
            ),
        )
        want |= {(pr, c, i + 1) for i, c in enumerate(ranked[:5])}
    assert got == want


def test_negative_samples_fallback_when_probe_nearly_saturated(spark):
    """A probe adjacent to almost every node has fewer than k
    non-adjacent survivors — it must take the exact fallback branch,
    not silently return short/no rows from the prefiltered set."""
    from etl_bigquery_pipeline_spark.operators import graph

    # star: 0 adjacent to 1..18, plus node 19 attached to 1 only
    rows = [(0, i) for i in range(1, 19)] + [(1, 19)]
    edges = spark.createDataFrame(rows, "u long, v long")
    probes = spark.createDataFrame([(0,)], "node long")
    out = graph.negative_samples(edges, probes, k=5).collect()
    # node 19 is the only non-adjacent candidate: exactly one row
    assert [(r.probe, r.negative, r.rnk) for r in out] == [(0, 19, 1)]


def test_deterministic_walks_follow_edges(spark):
    from etl_bigquery_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "u long, v long"
    )
    starts = spark.createDataFrame([(1,)], "node long")
    out = sorted(
        graph.deterministic_walks(edges, starts, steps=3).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in out] == [0, 1, 2, 3]
    assert out[0].node == 1
    adj = {(1, 2), (2, 3), (3, 4), (1, 4)}
    adj |= {(b, a) for a, b in adj}
    for prev, cur in zip(out, out[1:]):
        assert (prev.node, cur.node) in adj  # every hop is a real edge
    rerun = sorted(
        graph.deterministic_walks(edges, starts, steps=3).collect(),
        key=lambda r: r.step,
    )
    assert [r.node for r in rerun] == [r.node for r in out]


def test_hist_exact_percentiles_keeps_null_group_and_empty_input(spark):
    """The histogram-plan percentiles must preserve percentile()'s exact
    semantics at the edges the r9/r10 reviews flagged: a NULL group is a
    group (the totals join must be null-safe, not `=`), and an empty
    input returns an empty grouped result instead of crashing the
    offset-frame construction."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators.windows import (
        exact_percentiles as _hist_exact_percentiles,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 4.0), (None, 10.0), (None, 20.0)],
        "g string, v double",
    )
    got = {
        r.g: (r.p50, r.p25)
        for r in _hist_exact_percentiles(
            df, "g", "v", [0.5, 0.25], ["p50", "p25"]
        ).collect()
    }
    want = {
        r.g: (r.p50, r.p25)
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.25)").alias("p25"),
        )
        .collect()
    }
    assert got == want and None in got

    empty = spark.createDataFrame([], "g string, v double")
    assert _hist_exact_percentiles(
        empty, "g", "v", [0.5], ["p50"]
    ).collect() == []


# ---------------------------------------------------------- localrel ----


def test_literal_frame_rejects_rows_of_the_wrong_length(spark):
    """A row shorter or longer than the schema is an error, not a row
    silently truncated (or padded) to fit."""
    import pytest

    from etl_bigquery_pipeline_spark.operators.localrel import literal_frame

    schema = "a string, b bigint"
    assert literal_frame(spark, [("x", 1), ("y", None)], schema).collect() == [
        ("x", 1),
        ("y", None),
    ]
    for bad in ([("x", 1, "extra")], [("x", 1), ("y",)]):
        with pytest.raises(ValueError, match="schema has 2 fields"):
            literal_frame(spark, bad, schema)


def test_literal_frame_rejects_values_its_fields_cannot_hold(spark):
    """A value is cast to its field's type only if the field holds it
    exactly: 1.5 into bigint would truncate, "abc" into bigint would
    become NULL, True into bigint would become 1. Each raises TypeError
    before any plan is built."""
    import pytest

    from etl_bigquery_pipeline_spark.operators.localrel import literal_frame

    schema = "s string, n bigint, i int, x double, b boolean"
    ok = [("a", 2**62, -(2**31), 1, True), (None, None, None, 0.5, None)]
    assert literal_frame(spark, ok, schema).collect() == [
        ("a", 2**62, -(2**31), 1.0, True),
        (None, None, None, 0.5, None),
    ]
    good = ok[0]
    for pos, bad in [
        (1, 1.5),
        (1, "abc"),
        (1, True),
        (1, 2**63),
        (2, 2**31),
        (3, "1.0"),
        (3, False),
        (4, 1),
        (0, 7),
    ]:
        row = good[:pos] + (bad,) + good[pos + 1 :]
        with pytest.raises(TypeError, match="does not fit field"):
            literal_frame(spark, [row], schema)
    with pytest.raises(TypeError, match="decimal"):
        literal_frame(spark, [(1,)], "d decimal(10,2)")
