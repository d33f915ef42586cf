"""Seeded benchmark inputs, cached per (workload, scale, seed).

Everything here is harness work: it runs in the orchestrating process
before any Spark session exists, and none of it is timed. Each input
directory ends with a ``manifest.json`` written last, so a directory
without one is an interrupted generation and is rebuilt.

- The catalog workloads use ``scripts/gen_scaled_testdata.generate``
  (the repo's own TPC-H-ish generator) and cache the DuckDB oracle side
  of every checked query next to the parquet files.
- ``etl_pipeline`` writes a dirty sales CSV (several files) and a
  products JSON array, then computes the expected pipeline outcome with
  DuckDB over the same files, independently of the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np

from workloads import SCALES, WORKLOADS


def _write_manifest(out: str, manifest: dict) -> None:
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out, "manifest.json"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def prepare(root: str, work: str, workload: str, scale: str, seed: int) -> dict:
    """Return the manifest for ``workload`` at ``scale``/``seed``, building
    the inputs (and expectations) first if they are not cached."""
    out = os.path.join(work, "inputs", f"{workload}-{scale}-s{seed}")
    path = os.path.join(out, "manifest.json")
    queries = WORKLOADS[workload]["queries"]
    if os.path.exists(path):
        with open(path) as fh:
            manifest = json.load(fh)
        if manifest.get("queries") == queries:
            return manifest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "etl_pipeline":
        manifest = _etl_inputs(out, seed, **SCALES[scale]["etl"])
    else:
        manifest = _catalog_inputs(root, out, workload, SCALES[scale]["sf"], seed)
    manifest.update(workload=workload, scale=scale, seed=seed, dir=out, queries=queries)
    manifest["input_bytes"] = _dir_bytes(out)
    _write_manifest(out, manifest)
    return manifest


# -- catalog workloads ------------------------------------------------------

# Oracle-less queries (tests/test_oracle_parity.py ROWS_ONLY) are checked
# on column names and row count; the count comes from this DuckDB SQL.
ROWS_ONLY = {
    "compression_ratio_quality": (
        "SELECT DISTINCT source FROM documents",
        ["avg_ratio", "max_ratio", "min_ratio", "n_docs", "source"],
    ),
}


def _catalog_inputs(root: str, out: str, workload: str, sf: float, seed: int) -> dict:
    sys.path.insert(0, os.path.join(root, "scripts"))
    import gen_scaled_testdata
    from tests.oracle_harness import (
        _duck_type_category,
        canonicalize,
        duckdb_connection,
    )
    from etl_bigquery_pipeline_spark.plans.catalog import ORACLE

    tables = gen_scaled_testdata.generate(sf, seed)
    gen_scaled_testdata.write_parquet(tables, out)
    con = duckdb_connection(out)
    expected = {}
    for name in WORKLOADS[workload]["queries"]:
        if name in ROWS_ONLY:
            sql, columns = ROWS_ONLY[name]
            expected[name] = {
                "columns": columns,
                "rows": len(con.sql(sql).fetchall()),
            }
            continue
        rel = con.sql(ORACLE[name])
        cols = list(rel.columns)
        expected[name] = {
            "columns": cols,
            "categories": {
                c: _duck_type_category(t) for c, t in zip(cols, rel.types)
            },
            "canonical": [list(r) for r in canonicalize(cols, rel.fetchall())],
        }
    con.close()
    with open(os.path.join(out, "oracle.json"), "w") as fh:
        json.dump(expected, fh)
    return {
        "sf_dir": out,
        "oracle": os.path.join(out, "oracle.json"),
        "input_rows": {k: len(next(iter(v.values()))) for k, v in tables.items()},
    }


# -- etl_pipeline -----------------------------------------------------------

SALES_HEADER = "date,store_id,product_id,units_sold,sales_amount"


def _etl_inputs(
    out: str, seed: int, sales_rows: int, products: int, files: int
) -> dict:
    """Dirty sales CSV + products JSON, with the expected clean outcome.

    Of the base sales rows, ~2% carry an unparseable date, 1% an
    unparseable unit count, 1% a blank amount and ~0.5% a product id
    that no product has; 2% more rows are exact copies of others. One
    product row in a hundred is duplicated exactly. No amount is
    negative and no price is non-positive, so no critical check fires.
    """
    rng = np.random.default_rng(seed)
    n_dup = sales_rows // 50
    n = sales_rows - n_dup
    pid = rng.integers(0, products, n)
    orphan = rng.random(n) < 0.005
    day = rng.integers(0, 365, n)
    dates = np.datetime_as_string(
        np.datetime64("2024-01-01") + day.astype("timedelta64[D]")
    ).astype(object)
    units = rng.integers(1, 21, n).astype(str).astype(object)
    cents = rng.integers(100, 500_000, n)
    amounts = np.array([f"{c // 100}.{c % 100:02d}" for c in cents], dtype=object)
    dirt = rng.random(n)
    dates[dirt < 0.02] = "not-a-date"
    units[(dirt >= 0.02) & (dirt < 0.03)] = "n/a"
    amounts[(dirt >= 0.03) & (dirt < 0.04)] = ""
    stores = rng.integers(1, 51, n)
    lines = [
        f"{dates[i]},S{stores[i]:03d},"
        f"{'X' if orphan[i] else 'P'}{pid[i]:06d},{units[i]},{amounts[i]}"
        for i in range(n)
    ]
    lines += [lines[i] for i in rng.integers(0, n, n_dup)]
    order = rng.permutation(len(lines))
    sales_dir = os.path.join(out, "sales")
    os.makedirs(sales_dir)
    for f, part in enumerate(np.array_split(order, files)):
        with open(os.path.join(sales_dir, f"part-{f:02d}.csv"), "w") as fh:
            fh.write(SALES_HEADER + "\n")
            fh.write("\n".join(lines[i] for i in part) + "\n")

    price = rng.integers(50, 100_000, products)
    rows = [
        {
            "product_id": f"P{i:06d}",
            "product_name": f"product {i}",
            "price": f"{price[i] // 100}.{price[i] % 100:02d}",
        }
        for i in range(products)
    ]
    rows += [rows[i] for i in rng.integers(0, products, products // 100)]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    products_path = os.path.join(out, "products.json")
    with open(products_path, "w") as fh:
        json.dump(rows, fh)

    return {
        "sales_dir": sales_dir,
        "products_path": products_path,
        "input_rows": {"sales": len(lines), "products": len(rows)},
        "expected": _etl_expected(sales_dir, products_path),
    }


def _etl_expected(sales_dir: str, products_path: str) -> dict:
    """The pipeline's outcome computed by DuckDB: coerce-to-NULL casts,
    drop rows with any NULL, full-row distinct, then the DQ figures."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"""CREATE TABLE sales AS SELECT DISTINCT * FROM (
            SELECT TRY_CAST(date AS TIMESTAMP) AS date, store_id, product_id,
                   TRY_CAST(TRY_CAST(units_sold AS DOUBLE) AS BIGINT) AS units,
                   TRY_CAST(sales_amount AS DOUBLE) AS amount
            FROM read_csv('{sales_dir}/*.csv', header = true, all_varchar = true))
            WHERE date IS NOT NULL AND store_id IS NOT NULL
              AND product_id IS NOT NULL AND units IS NOT NULL
              AND amount IS NOT NULL"""
    )
    con.sql(
        f"""CREATE TABLE products AS SELECT DISTINCT * FROM (
            SELECT product_id, product_name, TRY_CAST(price AS DOUBLE) AS price
            FROM read_json('{products_path}', format = 'array',
                 columns = {{product_id: 'VARCHAR', product_name: 'VARCHAR',
                             price: 'VARCHAR'}}))
            WHERE product_id IS NOT NULL AND product_name IS NOT NULL
              AND price IS NOT NULL"""
    )

    def one(sql: str):
        return con.sql(sql).fetchall()[0][0]

    dup_groups = (
        "SELECT count(*) FROM (SELECT 1 FROM {t} GROUP BY {k} HAVING count(*) > 1)"
    )
    sales_rows = one("SELECT count(*) FROM sales")
    product_rows = one("SELECT count(*) FROM products")
    # (table, check) -> observed value, as dq.CheckResult.observed reports it
    checks = {
        "store_sales.row_count": sales_rows,
        "store_sales.load_parity": sales_rows,
        "store_sales.null_check": 0,
        "store_sales.range_sales_amount": one("SELECT min(amount) FROM sales"),
        "store_sales.range_units_sold": one("SELECT min(units) FROM sales"),
        "store_sales.dup_product_id_date": one(
            dup_groups.format(t="sales", k="product_id, date")
        ),
        "products.row_count": product_rows,
        "products.load_parity": product_rows,
        "products.null_check": 0,
        "products.range_price": one("SELECT min(price) FROM products"),
        "products.dup_product_id": one(
            dup_groups.format(t="products", k="product_id")
        ),
        "store_sales.ref_integrity_product_id": one(
            "SELECT count(*) FROM sales WHERE product_id NOT IN "
            "(SELECT product_id FROM products)"
        ),
    }
    con.close()
    return {"sales_rows": sales_rows, "product_rows": product_rows, "checks": checks}
