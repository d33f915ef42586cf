"""Row-level cleaning operators (SURVEY.md §2.2 P5-P8, §2.3 D1).

The reference coerces types with errors="coerce" then drops any row with a
null (/root/reference/dags/etl_pipeline.py:137-144) and full-row-dedupes the
dimension (:176-182). Here the whole chain is one lazy projection + filter:
Catalyst collapses it into the scan and the null-filter is pushed as far
down as the coercion allows — one pass over the data instead of the
reference's four materialized stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.functions import coercion

# type name -> coercion column factory
_COERCERS = {
    "timestamp": coercion.to_timestamp_or_null,
    "date": coercion.to_date_or_null,
    "bigint": coercion.to_long_or_null,
    "double": coercion.to_double_or_null,
    "string": lambda c: (F.col(c) if isinstance(c, str) else c).cast("string"),
}


def coerce_columns(df: DataFrame, spec: dict[str, str]) -> DataFrame:
    """Apply coerce-to-null casts per ``spec`` = {column: type_name}.

    Equivalent of the reference's to_datetime/to_numeric block
    (/root/reference/dags/etl_pipeline.py:137-139): invalid values become
    null (to be dropped or counted by DQ), never an error.
    """
    cols: dict[str, Column] = {}
    for name, type_name in spec.items():
        try:
            factory = _COERCERS[type_name]
        except KeyError:
            raise ValueError(f"no coercer for type {type_name!r}") from None
        cols[name] = factory(name)
    return df.withColumns(cols)


def drop_null_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """P8: pandas df.dropna() semantics — drop rows null in ANY column
    (or any of ``subset``)."""
    return df.na.drop("any", subset=subset)


def drop_exact_duplicates(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """D1: full-row distinct (or keyed dedup with ``subset``).

    At scale this is a shuffle on all columns; when a stable business key
    exists prefer ``subset=[key]`` so the shuffle key is narrow.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def clean(
    df: DataFrame,
    coerce: dict[str, str] | None = None,
    *,
    dropna_subset: list[str] | None = None,
    dedup_subset: list[str] | None = None,
) -> DataFrame:
    """coerce -> dropna -> dedup, the reference's transform stage as one
    lazy plan."""
    out = coerce_columns(df, coerce) if coerce else df
    return drop_exact_duplicates(
        drop_null_rows(out, dropna_subset), dedup_subset
    )
