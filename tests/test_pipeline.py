"""Reference-parity pipeline tests with dirty fixtures (SURVEY.md §5):
every transform path the reference exercises — packed columns, unparseable
dates/numbers, nulls, exact dups, orphan keys, negative amounts,
non-positive prices — with hand-computed expected outputs."""

from __future__ import annotations

import json

import pytest

from etl_bigquery_pipeline_spark.plans import dq
from etl_bigquery_pipeline_spark.plans.pipeline import (
    run_pipeline,
    transform_products,
    transform_sales,
)
from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse

CLEAN_SALES = [
    # date, store_id, product_id, units_sold, sales_amount
    ("2024-01-01", "s1", "p1", "3", "30.0"),
    ("2024-01-02", "s1", "p2", "1", "15.5"),
    ("2024-01-03", "s2", "p1", "2", "20.0"),
]
DIRTY_SALES = CLEAN_SALES + [
    ("not-a-date", "s1", "p1", "2", "20.0"),  # unparseable date -> dropped
    ("2024-01-04", "s2", "p2", "abc", "10.0"),  # unparseable units -> dropped
    ("2024-01-05", "s3", "p9", "1", "xyz"),  # unparseable amount -> dropped
]
SALES_COLS = ["date", "store_id", "product_id", "units_sold", "sales_amount"]


def sales_df(spark, rows=None):
    return spark.createDataFrame(rows or DIRTY_SALES, SALES_COLS)


def packed_sales_df(spark):
    packed = [",".join(r) for r in DIRTY_SALES]
    return spark.createDataFrame([(p,) for p in packed], ["blob"])


def products_df(spark):
    rows = [
        ("p1", "Widget", "10.0"),
        ("p2", "Gadget", "15.5"),
        ("p2", "Gadget", "15.5"),  # exact dup -> dropped
        ("p3", None, "12.0"),  # null name -> dropped
        ("p4", "Sprocket", "oops"),  # unparseable price -> dropped
    ]
    return spark.createDataFrame(rows, ["product_id", "product_name", "price"])


def test_transform_sales_drops_unparseable_rows(spark):
    out = transform_sales(sales_df(spark))
    assert out.count() == 3
    types = dict(out.dtypes)
    assert types["date"] == "timestamp"
    assert types["units_sold"] == "bigint"
    assert types["sales_amount"] == "double"


def test_transform_sales_handles_packed_column(spark):
    """The reference's comma-packed single-column repair
    (/root/reference/dags/etl_pipeline.py:121-129)."""
    out = transform_sales(packed_sales_df(spark))
    assert out.columns == SALES_COLS
    assert out.count() == 3


def test_transform_products_dedups_and_cleans(spark):
    out = transform_products(products_df(spark))
    rows = {r.product_id: r for r in out.collect()}
    assert set(rows) == {"p1", "p2"}
    assert rows["p2"].price == 15.5


def test_pipeline_end_to_end_passes_on_clean_data(spark, tmp_path):
    result = run_pipeline(
        spark,
        sales_df(spark),
        products_df(spark),
        ParquetWarehouse(str(tmp_path)),
    )
    assert result.sales_rows == 3
    assert result.product_rows == 2
    by_check = {
        (r.table, r.check): r for r in result.dq_results
    }
    assert all(r.passed for r in result.dq_results), [
        (k, v.detail) for k, v in by_check.items() if not v.passed
    ]
    # report is queryable
    assert result.report.filter("status = 'FAIL'").count() == 0

    # rows read, loaded and rejected per table ride on the loads' writes
    sales, products = result.loads["store_sales"], result.loads["products"]
    assert (sales.rows_in, sales.rows_out, sales.rejected) == (6, 3, 3)
    assert (products.rows_in, products.rows_out, products.rejected) == (5, 2, 3)
    as_dict = result.as_dict()
    assert json.loads(json.dumps(as_dict)) == as_dict  # JSON types only
    assert as_dict["loads"]["products"] == {
        "rows_in": 5,
        "rows_out": 2,
        "rejected": 3,
    }
    assert [d["status"] for d in as_dict["dq"]] == ["PASS"] * len(result.dq_results)


def test_pipeline_counts_rows_in_when_every_row_is_rejected(spark, tmp_path):
    """With nothing left to load, adaptive execution drops the stage that
    held the rows-in observation; the count must still be the raw one."""
    result = run_pipeline(
        spark,
        sales_df(spark, DIRTY_SALES[3:]),
        products_df(spark),
        ParquetWarehouse(str(tmp_path)),
        enforce_critical=False,
    )
    sales = result.loads["store_sales"]
    assert (sales.rows_in, sales.rows_out, sales.rejected) == (3, 0, 3)
    row_count = [
        r for r in result.dq_results
        if (r.table, r.check) == ("store_sales", "row_count")
    ][0]
    assert not row_count.passed


def test_pipeline_counts_raw_rows_of_a_sniffed_packed_extract(spark, tmp_path):
    """A two-column extract whose first column is packed makes
    transform_sales sniff it with a small action of its own; that action
    must not stand in for the load's count of rows read."""
    src = str(tmp_path / "packed_src")
    spark.createDataFrame(
        [(",".join(r), "extra") for r in DIRTY_SALES], ["blob", "note"]
    ).write.parquet(src)
    # read back from files: a sniff over in-memory rows runs no job
    packed = spark.read.parquet(src)
    result = run_pipeline(
        spark, packed, products_df(spark), ParquetWarehouse(str(tmp_path))
    )
    sales = result.loads["store_sales"]
    assert (sales.rows_in, sales.rows_out) == (6, 3)


class _LossySink(ParquetWarehouse):
    """Loses one fact row on the way into the warehouse."""

    def overwrite(self, df, table):
        if table.endswith("store_sales"):
            df = df.filter("date <> timestamp'2024-01-02'")
        super().overwrite(df, table)


def test_pipeline_fails_when_the_sink_loses_rows(spark, tmp_path):
    """load_parity compares the rows handed to the sink (observed during
    the write) with the rows the warehouse holds afterwards."""
    with pytest.raises(dq.CriticalDQFailure) as exc:
        run_pipeline(
            spark,
            sales_df(spark),
            products_df(spark),
            _LossySink(str(tmp_path)),
        )
    msg = str(exc.value)
    assert "store_sales.load_parity" in msg
    assert "loaded=2 expected=3" in msg


# Spark jobs one run_pipeline call starts on the clean fixture (local[12],
# 8 shuffle partitions). It was 26 while the pipeline counted each
# transformed table with count() before loading it and the FK check
# deduplicated the dimension keys.
PIPELINE_JOBS = 19


def test_pipeline_job_count_ratchet(spark, tmp_path):
    """Each table's transform runs once per pipeline run. The job group
    is owned by this test: the library sets none of its own."""
    sc = spark.sparkContext
    group = "test_pipeline_job_count_ratchet"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(
            spark,
            sales_df(spark, CLEAN_SALES),
            products_df(spark),
            ParquetWarehouse(str(tmp_path)),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= PIPELINE_JOBS


def test_pipeline_fails_on_negative_amounts(spark, tmp_path):
    bad = CLEAN_SALES + [("2024-01-06", "s1", "p1", "5", "-4.0")]
    with pytest.raises(dq.CriticalDQFailure) as exc:
        run_pipeline(
            spark,
            sales_df(spark, bad),
            products_df(spark),
            ParquetWarehouse(str(tmp_path)),
        )
    assert "range_sales_amount" in str(exc.value)


def test_pipeline_flags_orphan_products_as_warning(spark, tmp_path):
    orphan = CLEAN_SALES + [("2024-01-07", "s1", "p404", "1", "5.0")]
    result = run_pipeline(
        spark,
        sales_df(spark, orphan),
        products_df(spark),
        ParquetWarehouse(str(tmp_path)),
    )
    ref = [r for r in result.dq_results if r.check.startswith("ref_integrity")][0]
    assert not ref.passed and ref.observed == 1
    assert ref.severity == dq.Severity.WARNING  # orphans warn, don't fail


def test_non_positive_price_is_critical(spark, tmp_path):
    """B3: price must be STRICTLY positive (reference uses <=,
    /root/reference/dags/etl_pipeline.py:445-449)."""
    products = spark.createDataFrame(
        [("p1", "Widget", "10.0"), ("p2", "Freebie", "0.0")],
        ["product_id", "product_name", "price"],
    )
    with pytest.raises(dq.CriticalDQFailure) as exc:
        run_pipeline(
            spark, sales_df(spark), products, ParquetWarehouse(str(tmp_path))
        )
    assert "range_price" in str(exc.value)


def test_duplicate_product_date_pairs_warn(spark, tmp_path):
    """FIXTURES.md A3: duplicate (product_id, date) fact pairs are caught
    by the dup-key check (warning, counts groups)."""
    dup = CLEAN_SALES + [("2024-01-01", "s9", "p1", "7", "70.0")]  # p1@01-01 again
    result = run_pipeline(
        spark,
        sales_df(spark, dup),
        products_df(spark),
        ParquetWarehouse(str(tmp_path)),
    )
    chk = [r for r in result.dq_results if r.check == "dup_product_id_date"][0]
    assert not chk.passed and chk.observed == 1  # one duplicated group
    assert chk.severity == dq.Severity.WARNING


def test_aggregate_routing_matches_direct(spark):
    """A monthly query answered FROM the daily rollup must equal the same
    query computed directly over the facts — the summary-table contract
    (additive measures only; avg finalized from sum/count)."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.plans import aggregates

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    daily = aggregates.build_daily_rollup(e)
    routed = aggregates.rollup_to_monthly(daily)

    direct = (
        e.withColumn("month", F.date_trunc("month", F.col("ts").cast("date")).cast("date"))
        .groupBy("month", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
        .withColumn(
            "value_avg",
            F.round((F.col("value_sum") / F.col("n_events")).cast("double"), 4),
        )
    )
    got = sorted(map(tuple, routed.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want


def test_example_curate_corpus_runs(spark, tmp_path):
    """The examples/ script must run end-to-end as documentation-that-
    executes: partitioned output per split, observed metrics consistent
    with the written rows."""
    import sys

    sys.path.insert(0, "examples")
    try:
        from curate_corpus import curate
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "curated")
    metrics = curate(spark, "/root/testdata/sf0.001", out)

    back = spark.read.parquet(out)
    assert metrics["n_rows"] == back.count()
    assert metrics["n_null_text"] == 0
    from pyspark.sql import functions as F

    assert metrics["sum_tokens"] == back.agg(F.sum("n_tok")).first()[0]
    assert {r.split for r in back.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_example_multimodal_pipeline_runs(spark, tmp_path):
    """The multimodal example end-to-end: mixed real payloads decode,
    video frames re-enter the image path, everything decodable resizes,
    and the near-dup stage yields a bounded candidate set."""
    import sys

    sys.path.insert(0, "examples")
    try:
        from multimodal_pipeline import run
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "mm")
    stats = run(spark, out)
    assert stats["n_payloads"] == 13
    # 11 images (incl. progressive JPEG, Adam7 PNG, GIF) + 2 MJPEG frames
    assert stats["n_resized"] == 13
    assert stats["n_candidate_pairs"] >= 0
    back = spark.read.parquet(out)
    assert back.filter("resized").count() == 13
    assert set(back.columns) == {"id", "payload", "width", "height", "resized"}


def test_example_continuous_ingest_runs(spark, tmp_path):
    """The continuous-ingest example end-to-end: bootstrap (index +
    trained model + data-driven threshold), one drained stream, correct
    batch triage."""
    import sys

    sys.path.insert(0, "examples")
    try:
        from continuous_ingest import INDEX_TABLE, run
    finally:
        sys.path.pop(0)

    stats = run(spark, "/root/testdata/sf0.001", str(tmp_path / "ci"))
    assert stats == {"curated": 1, "duplicates": 2, "rejects": 1}
    spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}")
    spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}__meta")


def test_export_training_shards_example(spark, tmp_path):
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "export_training_shards",
        os.path.join(os.path.dirname(__file__), "..", "examples",
                     "export_training_shards.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from etl_bigquery_pipeline_spark.operators.caching import cache_scope

    out = str(tmp_path / "shards")
    with cache_scope():
        manifest = mod.export(spark, "/root/testdata/sf0.001", out, shards=4)
    assert manifest["total_rows"] > 0
    assert sum(s["rows"] for s in manifest["shards"]) == manifest["total_rows"]
    on_disk = json.load(open(os.path.join(out, "_manifest.json")))
    assert on_disk["total_rows"] == manifest["total_rows"]
    # deterministic end to end: identical re-export
    out2 = str(tmp_path / "shards2")
    with cache_scope():
        m2 = mod.export(spark, "/root/testdata/sf0.001", out2, shards=4)
    assert [s["rows"] for s in m2["shards"]] == [
        s["rows"] for s in manifest["shards"]
    ]
