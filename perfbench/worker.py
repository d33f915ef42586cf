"""One measured Spark process: start a session, run two untimed warm-up
passes (the first is also the correctness pass), then time passes: at
least ``MEASURED_PASSES``, and more until the window closes. ``run.py``
starts one of these per run and reads the JSON it writes; see README.md
for what each number means.

    python3 perfbench/worker.py --manifest M --work W --window S \
        --trace 0|1 --spawned EPOCH --out OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SALES_SCHEMA = (
    "date string, store_id string, product_id string, "
    "units_sold string, sales_amount string"
)
PRODUCTS_SCHEMA = "product_id string, product_name string, price string"


class Pipeline:
    """etl_pipeline: one op per pass — read the dirty inputs with explicit
    all-string schemas, then ``run_pipeline`` into a fresh warehouse."""

    def __init__(self, spark, manifest, tracer, warehouse_cls, wh_root):
        self.spark, self.m, self.tracer = spark, manifest, tracer
        self.warehouse_cls, self.wh_root = warehouse_cls, wh_root
        self.ops = ["run_pipeline"]
        self.runs = 0

    def execute(self, op, mode):
        from etl_bigquery_pipeline_spark.plans import pipeline
        from etl_bigquery_pipeline_spark.sources import readers

        self.runs += 1
        wh = os.path.join(self.wh_root, f"run{self.runs}")
        sales = readers.read_csv(self.spark, self.m["sales_dir"], SALES_SCHEMA)
        products = readers.read_json(self.spark, self.m["products_path"], PRODUCTS_SCHEMA)
        with self.tracer.span("pipeline"):
            result = pipeline.run_pipeline(
                self.spark, sales, products, self.warehouse_cls(wh)
            )
        return result

    def verify(self, op, result, mode):
        shutil.rmtree(self.wh_root, ignore_errors=True)
        exp = self.m["expected"]
        problems = []
        if (result.sales_rows, result.product_rows) != (
            exp["sales_rows"],
            exp["product_rows"],
        ):
            problems.append(
                f"rows: got sales={result.sales_rows} products={result.product_rows},"
                f" want {exp['sales_rows']}/{exp['product_rows']}"
            )
        got = {f"{r.table}.{r.check}": r.observed for r in result.dq_results}
        for check in sorted(set(got) | set(exp["checks"])):
            want = exp["checks"].get(check)
            if want is None or got.get(check) is None or float(got[check]) != float(want):
                problems.append(f"dq {check}: got {got.get(check)}, want {want}")
        return problems


class Catalog:
    """catalog_*: one op per query — build it, then materialize it: a full
    ``noop`` write in timed passes, a collect compared with the cached
    DuckDB oracle in the warm-up pass."""

    def __init__(self, spark, manifest, tracer, queries):
        from etl_bigquery_pipeline_spark.plans.catalog import QUERIES

        self.spark, self.tracer = spark, tracer
        self.sf_dir = manifest["sf_dir"]
        self.fns = {q: QUERIES[q] for q in queries}
        self.ops = list(queries)
        with open(manifest["oracle"]) as fh:
            self.oracle = json.load(fh)
        self.cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def execute(self, op, mode):
        from etl_bigquery_pipeline_spark.operators.caching import cache_scope

        span = self.tracer.current()
        with cache_scope():
            with self.tracer.span("catalog.construct"):
                df = self.fns[op](self.spark, self.sf_dir)
            if span is not None:
                with self.tracer.span("catalog.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span("catalog.execute"):
                if mode == "check":
                    rows = [tuple(r) for r in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
                    rows = None
            if span is not None:
                span["counts"]["persisted"] = self._persisted()
        return df, rows, span

    def verify(self, op, out, mode):
        df, rows, span = out
        # a cached plan left after cache_scope exits is a leak (an error);
        # persisted RDDs outside the cache manager (localCheckpoint) are
        # released by Spark's ContextCleaner and only reported
        leaked = not self.cache_manager.isEmpty()
        if leaked:
            self.spark.catalog.clearCache()
        if span is not None:
            span["counts"]["leaked"] = int(leaked)
            span["counts"]["lingering"] = self._persisted()
        problems = [f"{op}: a cached plan outlived cache_scope"] if leaked else []
        if mode == "check":
            problems += self._compare(op, df, rows)
        return problems

    def _compare(self, op, df, rows):
        """tests/oracle_harness.compare rules against the cached oracle
        side: column names, type categories, then canonical rows (or, for
        the oracle-less queries, column names and row count)."""
        from tests.oracle_harness import _spark_type_category, canonicalize

        want = self.oracle[op]
        cols = list(df.columns)
        if sorted(cols) != sorted(want["columns"]):
            return [f"{op}: columns {sorted(cols)} != {sorted(want['columns'])}"]
        if "canonical" not in want:
            if len(rows) != want["rows"]:
                return [f"{op}: {len(rows)} rows, want {want['rows']}"]
            return []
        cats = {c: _spark_type_category(t) for c, t in df.dtypes}
        if cats != want["categories"]:
            return [f"{op}: type categories {cats} != {want['categories']}"]
        got = [list(r) for r in canonicalize(cols, rows)]
        if got != want["canonical"]:
            return [f"{op}: values differ ({len(got)} rows vs {len(want['canonical'])})"]
        return []


def start_session(work: str):
    from etl_bigquery_pipeline_spark.session import get_session

    return get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def group_cpu_s() -> float:
    """CPU seconds used so far by this process group: the worker, the
    Spark JVM and its Python workers (reaped children included)."""
    pgrp, ticks = os.getpgrp(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[2]) == pgrp:
            ticks += sum(int(x) for x in fields[11:15])  # u/s time, own + reaped
    return ticks / os.sysconf("SC_CLK_TCK")


def run_pass(wl, tracer, mode: str, traced: bool, cores: int) -> dict:
    """One walk over the workload's ops. Wall and CPU times exclude the
    output checks, which run between ops and are harness work."""
    tracer.active = traced
    tracer.pass_no += 1
    lat, problems, failed = [], [], 0
    wall = cpu = harness = harness_cpu = 0.0
    with tracer.span("pass", op="") as pass_span:
        for op in wl.ops:
            c0, t0 = group_cpu_s(), time.perf_counter()
            try:
                with tracer.span("op", op=op):
                    out = wl.execute(op, mode)
                err = None
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                err = f"{op}: raised {type(exc).__name__}: {str(exc)[:300]}"
            t1, c1 = time.perf_counter(), group_cpu_s()
            lat.append(t1 - t0)
            wall, cpu = wall + t1 - t0, cpu + c1 - c0
            found = [err] if err else wl.verify(op, out, mode)
            failed += bool(found)
            problems += found
            harness += time.perf_counter() - t1
            harness_cpu += group_cpu_s() - c1
    tracer.active = False
    return {
        "traced": traced,
        "wall": wall,
        "cpu": cpu,
        "lat": lat,
        "ops": len(wl.ops),
        "failed": failed,
        "problems": problems,
        "harness": harness,
        "harness_cpu": harness_cpu,
        "layers": tracer.pass_metrics(pass_span, cores) if traced else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--window", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)

    import spans
    from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse
    from workloads import MEASURED_PASSES, WORKLOADS

    with open(args.manifest) as fh:
        manifest = json.load(fh)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    spark = start_session(args.work)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    tracer = spans.Tracer(spark, manifest["workload"])
    warehouse_cls = ParquetWarehouse
    if args.trace:
        spans.install(tracer)
        warehouse_cls = spans.traced_warehouse(tracer)
    if manifest["workload"] == "etl_pipeline":
        wh_root = os.path.join(args.work, "warehouse", str(os.getpid()))
        wl = Pipeline(spark, manifest, tracer, warehouse_cls, wh_root)
    else:
        wl = Catalog(spark, manifest, tracer, WORKLOADS[manifest["workload"]]["queries"])

    # Set-up ends after two untimed passes. The first is the correctness
    # pass; its output checks are harness time. JIT warm-up takes far
    # longer than a run can afford (a catalog_curation pass took 14.7,
    # 10.2, 9.6, 8.5, 6.7, 6.1 CPU seconds); the second pass moves the
    # timed passes off the steepest part.
    warmups = [
        run_pass(wl, tracer, "check", False, cores),
        run_pass(wl, tracer, "time", False, cores),
    ]
    setup_s = time.time() - args.spawned - sum(w["harness"] for w in warmups)
    setup_cpu_s = group_cpu_s() - sum(w["harness_cpu"] for w in warmups)

    passes = []
    deadline = time.perf_counter() + args.window
    while len(passes) < MEASURED_PASSES or time.perf_counter() < deadline:
        if not args.trace:
            passes.append(run_pass(wl, tracer, "time", False, cores))
            continue
        # traced and untraced passes in ABBA order, so neither side gets
        # all the still-warming early passes
        order = (False, True) if len(passes) % 4 == 0 else (True, False)
        passes += [run_pass(wl, tracer, "time", t, cores) for t in order]

    host = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    stop_session(spark)
    result = {
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "session_start_s": session_start_s,
        "jvm_peak_rss_mb": resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024,
        "warmups": warmups,
        "passes": passes,
        "host": host,
        "spans": tracer.records(),
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
