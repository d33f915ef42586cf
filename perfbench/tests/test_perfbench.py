"""Self-test of the benchmark at tiny scale (sf0.001, 20k pipeline rows).

    python -m pytest perfbench/tests -q

Runs every workload end to end through ``run.py``, checks the output
format against BENCHMARK.json, checks each workload's stated emphasis
in the traced numbers, and proves the output checks catch a wrong result.
Takes a few minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_names_match_what_the_benchmark_reports():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER_METRICS


def test_end_to_end_metrics():
    out = result(bench("catalog_curation", 0))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_confirms_workload_emphasis(workload):
    out = result(bench(workload, 1))
    assert out["correct"] and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    assert m["caching.leaked"] == 0 and m["exec.jobs"] > 0
    if workload == "etl_pipeline":
        assert all(m[k] == 0 for k in m if k.startswith("catalog."))
        assert m["sources.write_s"] > 0 and m["sources.write_jobs"] > 0
        assert m["sources.bytes_written"] > 0 and m["dq.jobs"] > 0
    else:
        assert m["sources.write_s"] == 0 and m["sources.write_jobs"] == 0
        assert m["catalog.construct_s"] > 0 and m["catalog.execute_jobs"] > 0
    if workload == "catalog_curation":
        assert m["catalog.construct_s"] > 0.5 * m["trace.pass_s"]
        assert m["caching.persisted_peak"] > 0


def test_a_dropped_row_is_counted_as_an_error(tmp_path, monkeypatch):
    """Negative case: a warehouse that silently loses one row on load."""
    import inputs
    from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse
    from spans import Tracer

    class DroppingWarehouse(ParquetWarehouse):
        def overwrite(self, df, table):
            super().overwrite(df.exceptAll(df.limit(1)), table)

    manifest = inputs.prepare(ROOT, run.WORK, "etl_pipeline", "tiny", 3)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    spark = worker.start_session(str(tmp_path))
    try:
        tracer = Tracer(spark, "etl_pipeline")
        wl = worker.Pipeline(spark, manifest, tracer, DroppingWarehouse, str(tmp_path / "wh"))
        p = worker.run_pass(wl, tracer, "time", False, 2)
    finally:
        worker.stop_session(spark)
    assert p["failed"] == 1 and p["problems"]
    # through the same report a run prints: error_rate = failed / attempted
    args = type("Args", (), {"trace": 0, "workload": "etl_pipeline", "scale": "tiny", "seed": 3})
    res = {"warmups": [p], "passes": [p], "setup_s": 1.0, "setup_cpu_s": 1.0, "host": {}}
    out = run.report(args, manifest, res, 2)
    assert not out["correct"] and out["failed"] == out["attempted"] == 2


def test_exits_nonzero_without_the_program(tmp_path):
    """A checkout holding only BENCHMARK.json and the benchmark fails
    fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("etl_pipeline", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
