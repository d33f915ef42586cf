"""DQ framework: each check must CATCH its seeded violation (SURVEY.md §5
— the reference tests data, not code; we test that the tester works)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.plans import dq


def test_scalar_checks_fuse_into_one_pass(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id int, amount double"
    )
    checks = dq.TableChecks(
        table="t",
        df=df,
        scalar=[
            dq.row_count_check(),
            dq.null_check(["amount"]),
            dq.range_check("amount", min_allowed=0.0),
        ],
    )
    results = {r.check: r for r in checks.run()}
    assert results["row_count"].passed
    assert not results["null_check"].passed
    assert results["null_check"].observed == 1
    assert not results["range_amount"].passed  # min is -5


def test_null_check_names_offending_columns(spark):
    df = spark.createDataFrame([(None, "x"), (1, None)], "a int, b string")
    res = dq.TableChecks(
        table="t", df=df, scalar=[dq.null_check(["a", "b"])]
    ).run()[0]
    assert "'a': 1" in res.detail and "'b': 1" in res.detail


def test_strict_min_boundary(spark):
    df = spark.createDataFrame([(0.0,), (5.0,)], "price double")
    strict = dq.TableChecks(
        table="t",
        df=df,
        scalar=[dq.range_check("price", min_allowed=0.0, strict_min=True)],
    ).run()[0]
    loose = dq.TableChecks(
        table="t",
        df=df,
        scalar=[dq.range_check("price", min_allowed=0.0)],
    ).run()[0]
    assert not strict.passed  # 0 not allowed when strictly positive
    assert loose.passed


def test_duplicate_key_check_counts_groups_not_rows(spark):
    """SURVEY.md §7.5: D2 counts duplicate *groups* (3 rows of one key =
    1 group)."""
    df = spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k1", 3), ("k2", 4)], "k string, v int"
    )
    res = dq.TableChecks(table="t", df=df, duplicate_keys=[["k"]]).run()[0]
    assert not res.passed
    assert res.observed == 1


def test_referential_integrity_counts_orphan_rows(spark):
    fact = spark.createDataFrame(
        [("p1",), ("p1",), ("p404",), ("p405",)], "product_id string"
    )
    dim = spark.createDataFrame([("p1",)], "product_id string")
    res = dq.referential_integrity_check(fact, dim, "product_id")
    assert not res.passed
    assert res.observed == 2  # orphan ROWS (p404, p405)


def test_referential_integrity_ignores_duplicate_dimension_keys(spark):
    """The anti join needs no deduplicated build side: duplicate
    dimension keys give the same orphan count as distinct ones, and a
    NULL fact key is an orphan either way."""
    fact = spark.createDataFrame(
        [("p1",), ("p2",), ("p404",), (None,)], "product_id string"
    )
    dim = spark.createDataFrame(
        [("p1",), ("p1",), ("p2",), ("p2",), ("p2",)], "product_id string"
    )
    res = dq.referential_integrity_check(fact, dim, "product_id")
    with_distinct = fact.join(
        F.broadcast(dim.select("product_id").distinct()), "product_id", "left_anti"
    ).count()
    assert res.observed == with_distinct == 2  # p404 and the NULL key


def test_parity_check(spark):
    df = spark.createDataFrame([(1,), (2,)], "id int")
    ok = dq.TableChecks(table="t", df=df, scalar=[dq.parity_check(2)]).run()[0]
    bad = dq.TableChecks(table="t", df=df, scalar=[dq.parity_check(3)]).run()[0]
    assert ok.passed and not bad.passed


def test_enforce_raises_only_on_critical(spark):
    warn = dq.CheckResult("c1", "t", False, dq.Severity.WARNING, 1, "warn")
    dq.enforce([warn])  # no raise
    crit = dq.CheckResult("c2", "t", False, dq.Severity.CRITICAL, 1, "crit")
    try:
        dq.enforce([warn, crit])
        raise AssertionError("should have raised")
    except dq.CriticalDQFailure as e:
        assert "c2" in str(e)


def test_report_df_schema(spark):
    rows = [dq.CheckResult("c", "t", True, dq.Severity.CRITICAL, 0, "d")]
    rep = dq.report_df(spark, rows)
    assert rep.columns == ["check", "table", "status", "severity", "observed", "detail"]
    assert rep.first().status == "PASS"


def test_freshness_check(spark):
    from etl_bigquery_pipeline_spark.plans import dq
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    e = read_table(spark, "/root/testdata/sf0.001", "events")
    newest = e.agg({"ts": "max"}).first()[0]

    fresh = dq.TableChecks(
        "events", e,
        [dq.freshness_check("ts", max_age="1 days", as_of=str(newest))],
    ).run()
    assert fresh[0].passed

    stale_ref = newest.replace(year=newest.year + 1)
    stale = dq.TableChecks(
        "events", e,
        [dq.freshness_check("ts", max_age="2 days", as_of=str(stale_ref))],
    ).run()
    assert not stale[0].passed

    import pytest as _pt

    with _pt.raises(dq.CriticalDQFailure):
        dq.enforce(stale)


def test_observed_write_collects_metrics_in_one_pass(spark, tmp_path):
    """observe() metrics must arrive from the write action itself —
    counts and null tallies with no second scan of the data."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.plans import dq
    from etl_bigquery_pipeline_spark.sources.readers import read_table

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    dest = str(tmp_path / "observed_out")

    got = dq.observed_write(
        li,
        lambda df: df.write.mode("overwrite").parquet(dest),
        metrics={
            "n_null_qty": F.sum(F.col("l_quantity").isNull().cast("int")),
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,4)")),
        },
    )
    n = li.count()
    assert got["n_rows"] == n
    assert got["n_null_qty"] == 0
    assert float(got["sum_qty"]) == float(
        li.agg(F.sum(F.col("l_quantity").cast("decimal(18,4)"))).first()[0]
    )
    assert spark.read.parquet(dest).count() == n


def test_quarantine_split_signatures_and_null_logic(spark):
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.plans.dq import quarantine_split

    df = spark.createDataFrame(
        [(1, 5.0, 1.0), (2, -1.0, 1.0), (3, -2.0, None), (4, 2.0, None)],
        "id long, qty double, price double",
    )
    good, bad = quarantine_split(
        df,
        {
            "neg_qty": F.col("qty") < 0,
            "null_price": F.col("price").isNull(),
        },
    )
    assert [r.id for r in good.collect()] == [1]
    got = {r.id: r.violations for r in bad.collect()}
    # multi-violation signature is sorted and stable
    assert got == {2: "neg_qty", 3: "neg_qty,null_price", 4: "null_price"}


def test_quarantine_split_null_predicate_is_violation(spark):
    """A rule whose predicate evaluates NULL must quarantine the row
    (three-valued logic: unknown is not a pass)."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.plans.dq import quarantine_split

    df = spark.createDataFrame(
        [(1, 10.0), (2, None)], "id long, v double"
    )
    good, bad = quarantine_split(df, {"v_high": F.col("v") > 5})
    # v > 5 is TRUE for row 1 (violation) and NULL for row 2 (violation)
    assert good.count() == 0
    assert sorted(r.id for r in bad.collect()) == [1, 2]


def test_expect_schema_contract(spark):
    from etl_bigquery_pipeline_spark.plans.dq import expect_schema

    df = spark.createDataFrame([(1, "a", 2.0)], "id long, name string, v double")
    assert expect_schema(df, "id long, name string, v double") == []
    # added nullable column tolerated by default, rejected when strict
    assert expect_schema(df, "id long, name string") == []
    strict = expect_schema(df, "id long, name string", allow_added_nullable=False)
    assert any("unexpected column: v" in s for s in strict)
    # missing + type change + nullability each reported
    out = expect_schema(df, "id long, name bigint, missing_col string")
    assert any(s.startswith("missing column: missing_col") for s in out)
    assert any(s.startswith("type change: name") for s in out)
    df2 = spark.createDataFrame([(1,)], "id long")  # nullable id
    assert any(
        "nullability loosened" in s
        for s in expect_schema(df2, "id long not null")
    )


def test_quarantine_split_refuses_violations_column_collision(spark):
    import pytest
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.plans.dq import quarantine_split

    df = spark.createDataFrame([(1, "x")], "v long, violations string")
    with pytest.raises(ValueError, match="violations"):
        quarantine_split(df, {"neg": F.col("v") < 0})
