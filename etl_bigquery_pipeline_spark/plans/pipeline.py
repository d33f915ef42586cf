"""The reference's end-to-end ETL pipeline, re-expressed Spark-first.

Reference flow (/root/reference/dags/etl_pipeline.py:534-543): 8 Airflow
tasks — create dataset, extract {excel, json} in parallel branches,
transform each (schema-fix, coerce, clean), truncate-load into BigQuery,
then a 9-query validation stage that hard-fails on critical violations.
Every stage hop materializes /tmp CSV and re-infers types.

Spark mapping: the whole DAG is two lazy DataFrame lineages in one
SparkSession. There are no intermediate files (the lazy plan replaces the
CSV hand-off), no type re-inference (schemas persist end-to-end), no XCom
(plain return values). Each table's transform runs exactly once, inside
its load: the write is observed (``dq.observed_write``), so the row counts
the reference logs at every stage — rows in, rows loaded — are collected
by the write itself instead of by ``count()`` actions that would parse,
coerce and dedup the input again. The only actions are the two sink
writes and the DQ passes over the written tables — at 100 TB the pipeline
is one scan + one write per table, then its DQ pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators import cleaning, schema_ops
from etl_bigquery_pipeline_spark.plans import dq
from etl_bigquery_pipeline_spark.sources.sinks import WarehouseSink

SALES_COLUMNS = ["date", "store_id", "product_id", "units_sold", "sales_amount"]
SALES_TYPES = {
    "date": "timestamp",
    "units_sold": "bigint",
    "sales_amount": "double",
}
PRODUCT_TYPES = {"price": "double"}


def _count_rows(df: DataFrame, rows_in: Observation | None) -> DataFrame:
    if rows_in is None:
        return df
    return df.observe(rows_in, F.count(F.lit(1)).alias("rows"))


def _rows_in(observed: Observation, raw: DataFrame) -> int:
    """The raw row count a transform's ``rows_in`` observation collected.
    When every row is rejected, adaptive execution replaces the empty
    shuffle stage, observation included, by an empty relation, and the
    observation is left without metrics; the raw frame is then counted
    directly (one extra job, in that case only)."""
    row = observed._jo.getRow()
    return row.getLong(0) if row.length() else raw.count()


def transform_sales(raw: DataFrame, rows_in: Observation | None = None) -> DataFrame:
    """The reference's transform_excel_data (:110-160) as one lazy plan:
    impose schema (sniff/split/rename), coerce-to-null, drop null rows.

    ``rows_in`` (optional) counts the raw rows during the action that
    consumes the result. It is attached after shaping, which maps one
    row to one row, because the packed-column sniff runs its own small
    action on ``raw``, and an observation keeps the first action's
    metrics."""
    shaped = schema_ops.impose_schema(raw, SALES_COLUMNS)
    return cleaning.clean(_count_rows(shaped, rows_in), SALES_TYPES)


def transform_products(
    raw: DataFrame, rows_in: Observation | None = None
) -> DataFrame:
    """transform_json_data (:162-198): coerce price, drop nulls, full-row
    dedup. ``rows_in`` as in transform_sales."""
    return cleaning.clean(
        _count_rows(raw.select("product_id", "product_name", "price"), rows_in),
        PRODUCT_TYPES,
    )


@dataclass(frozen=True)
class LoadCounts:
    """One table's rows: read from the source, loaded into the warehouse,
    and rejected by the transform (unparseable, NULL or duplicate)."""

    rows_in: int
    rows_out: int

    @property
    def rejected(self) -> int:
        return self.rows_in - self.rows_out

    def as_dict(self) -> dict:
        return {
            "rows_in": self.rows_in,
            "rows_out": self.rows_out,
            "rejected": self.rejected,
        }


@dataclass
class PipelineResult:
    sales_rows: int
    product_rows: int
    dq_results: list[dq.CheckResult]
    report: DataFrame
    loads: dict[str, LoadCounts]  # warehouse table name -> its counts

    def as_dict(self) -> dict:
        """The run's counts and DQ verdicts as JSON types only (the
        report DataFrame holds the same verdicts)."""
        return {
            "sales_rows": self.sales_rows,
            "product_rows": self.product_rows,
            "loads": {t: c.as_dict() for t, c in self.loads.items()},
            "dq": [r.as_dict() for r in self.dq_results],
        }


def run_pipeline(
    spark: SparkSession,
    sales_raw: DataFrame,
    products_raw: DataFrame,
    sink: WarehouseSink,
    *,
    namespace: str = "sales_analytics",
    enforce_critical: bool = True,
) -> PipelineResult:
    """extract -> transform -> load -> validate, matching the reference's
    task graph (:534-543) minus the orchestration machinery."""
    sink.create_namespace(namespace)

    sales_in, products_in = Observation(), Observation()
    sales = transform_sales(sales_raw, sales_in)
    products = transform_products(products_raw, products_in)

    # The pre-load counts parity_check compares against come from the
    # loads' own write actions: no separate pass over either transform.
    def load(df: DataFrame, table: str) -> int:
        return dq.observed_write(df, lambda d: sink.overwrite(d, table))["n_rows"]

    sales_n = load(sales, f"{namespace}.store_sales")
    products_n = load(products, f"{namespace}.products")
    loads = {
        "store_sales": LoadCounts(_rows_in(sales_in, sales_raw), sales_n),
        "products": LoadCounts(_rows_in(products_in, products_raw), products_n),
    }

    # Validation reads the *written* tables, like the reference validating
    # warehouse state rather than in-flight frames (:261-473).
    w_sales = sink.read(spark, f"{namespace}.store_sales")
    w_products = sink.read(spark, f"{namespace}.products")

    results: list[dq.CheckResult] = []
    results += dq.TableChecks(
        table="store_sales",
        df=w_sales,
        scalar=[
            dq.row_count_check(),
            dq.parity_check(sales_n),
            dq.null_check(["date", "product_id", "units_sold", "sales_amount"]),
            dq.range_check("sales_amount", min_allowed=0.0),
            dq.range_check("units_sold", min_allowed=0),
        ],
        duplicate_keys=[["product_id", "date"]],
    ).run()
    results += dq.TableChecks(
        table="products",
        df=w_products,
        scalar=[
            dq.row_count_check(),
            dq.parity_check(products_n),
            dq.null_check(["product_id", "product_name", "price"]),
            dq.range_check("price", min_allowed=0.0, strict_min=True),
        ],
        duplicate_keys=[["product_id"]],
    ).run()
    results.append(
        dq.referential_integrity_check(
            w_sales, w_products, "product_id", fact_name="store_sales"
        )
    )

    report = dq.report_df(spark, results)
    if enforce_critical:
        dq.enforce(results)
    return PipelineResult(sales_n, products_n, results, report, loads)
