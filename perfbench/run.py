#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 10 --trace 0

Generates (or reuses) the seeded inputs under ``.bench_build/perfbench``,
then starts one fresh Spark process (``worker.py``) on ``local[N]``, N =
half the usable cores. It sets up (session start plus two untimed
warm-up passes, the first of which checks every output), then times
passes for ``--seconds`` (at least ``MEASURED_PASSES``). Prints the host
facts and every metric with its unit and sample count, and as its last
line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero, printing no result, when a worker fails or the run
exceeds its time limit. README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

STARTED = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TIME_LIMIT_S = 170

# per-layer metric -> unit, in print order (BENCHMARK.json lists the same)
LAYER_METRICS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.write_s": "s",
    "sources.write_jobs": "count",
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    "sources.readback_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "dq.validate_s": "s",
    "dq.jobs": "count",
    "dq.input_bytes": "B",
    "catalog.construct_s": "s",
    "catalog.construct_jobs": "count",
    "catalog.plan_s": "s",
    "catalog.execute_s": "s",
    "catalog.execute_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.core_util": "ratio",
    "caching.persisted_peak": "count",
    "caching.leaked": "count",
    "caching.lingering_rdds": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of a worker's process group (its JVM and
    Python workers) and wait until the group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(args, manifest: dict, cores: int) -> dict:
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: no hsperfdata under
        # /tmp, temp files inside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    out = os.path.join(tmp, "worker.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--manifest", os.path.join(manifest["dir"], "manifest.json"),
        "--work", WORK,
        "--window", str(args.seconds),
        "--trace", str(args.trace),
        "--spawned", repr(time.time()),
        "--out", out,
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        rc = proc.wait(timeout=max(1.0, STARTED + TIME_LIMIT_S - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        _reap(proc)
    if rc != 0:
        raise SystemExit(f"perfbench: worker failed ({rc})")
    with open(out) as fh:
        return json.load(fh)


def report(args, manifest: dict, result: dict, cores: int) -> dict:
    from workloads import MEASURED_PASSES

    timed = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    every = result["warmups"] + timed + traced
    attempted = sum(p["ops"] for p in every)
    failed = sum(p["failed"] for p in every)
    host = dict(
        result["host"],
        N=cores,
        nproc=len(os.sched_getaffinity(0)),
        workload=args.workload,
        scale=args.scale,
        seed=args.seed,
        input_rows=manifest["input_rows"],
        input_bytes=manifest["input_bytes"],
        warmup_passes=len(result["warmups"]),
    )
    print("host " + json.dumps(host, sort_keys=True))
    for msg in [m for p in every for m in p["problems"]][:20]:
        print("FAILED " + msg, file=sys.stderr)

    if not args.trace:
        first = timed[:MEASURED_PASSES]
        lat = [x for p in first for x in p["lat"]]
        which = f"timed passes 1-{len(first)} (of {len(timed)})"
        lines = [
            ("setup_s", result["setup_cpu_s"], "s",
             f"CPU, worker start + {len(result['warmups'])} warm-up passes"),
            # the mean, not the median: JIT work that drifts from one of
            # these passes into the next still counts once
            ("pass_cpu_s", statistics.fmean(p["cpu"] for p in first), "s",
             f"CPU, mean of {which}"),
        ]
        info = [
            ("setup_wall_s", result["setup_s"], "s", "wall, not gated"),
            ("pass_s", statistics.median(p["wall"] for p in first), "s",
             f"wall, median of {which}, not gated"),
            ("query_p50_s", statistics.median(lat), "s",
             f"wall, median of {len(lat)} operations, not gated"),
        ]
    else:
        layers = {
            name: statistics.median(p["layers"][name] for p in traced)
            for name in traced[0]["layers"]
        }
        layers["session.start_s"] = result["session_start_s"]
        layers["session.jvm_peak_rss_mb"] = result["jvm_peak_rss_mb"]
        layers["trace.pass_s"] = statistics.median(p["wall"] for p in traced)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - statistics.median(
            p["wall"] for p in timed
        )
        notes = {
            "session.start_s": "one session",
            "session.jvm_peak_rss_mb": "one session",
            "trace.overhead_s":
                f"traced minus untraced pass_s ({len(traced)} vs {len(timed)} passes)",
        }
        lines = [
            (name, layers[name], unit,
             notes.get(name, f"median of {len(traced)} traced passes"))
            for name, unit in LAYER_METRICS.items()
        ]
        info = []
    for name, value, unit, note in lines + info:
        print(f"{name:<26} {value:>14.6g} {unit:<6} {note}")
    print(f"{'error_rate':<26} {failed / attempted:>14.6g} {'ratio':<6} "
          f"{failed} failed of {attempted} operations")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, value, unit, _ in lines},
    }


def main() -> None:
    from workloads import SCALES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "etl_bigquery_pipeline_spark")):
        raise SystemExit(f"perfbench: no etl_bigquery_pipeline_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    import inputs

    # half the cores: the JVM's JIT and GC threads and the Python driver
    # need the rest, or a pass measures the scheduler
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    manifest = inputs.prepare(ROOT, WORK, args.workload, args.scale, args.seed)
    result = run_worker(args, manifest, cores)
    if args.trace:
        path = os.path.join(WORK, "traces", f"{args.workload}-{args.scale}-s{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(result["spans"], fh)
        print(f"spans {os.path.relpath(path, ROOT)}")
    print(json.dumps(report(args, manifest, result, cores)))


if __name__ == "__main__":
    main()
