"""Layer spans and Spark job attribution for the traced run.

Spans are recorded from outside the library: around the benchmark's own
calls into a layer, and around the library's public functions, which
``install`` rebinds to timing wrappers inside the traced process only.
Each span sets its own Spark job group
(``<workload>:<pass>:<op>:<layer>:<n>``), so every job a span starts is
attributed to it through ``statusTracker().getJobIdsForGroup``; stage
statistics come from the status store (``lastStageAttempt``), skipped
stages excluded. Spans stay in memory until the worker ends and writes
them out; ``pass_metrics`` folds one pass's spans into per-layer numbers.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "etl_bigquery_pipeline_spark"

# StageData fields summed into exec.* (run and GC time in ms, CPU time in ns)
_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    """Span recorder for one worker process. Inactive spans cost one
    attribute check, so the same code path serves traced and untraced
    passes."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.active = False
        self.pass_no = 0
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, op: str | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent["op"] if parent else ""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "op": op,
            "pass": self.pass_no,
            "group": f"{self.workload}:{self.pass_no}:{op}:{layer}:{sid}",
            "children": [],
            "counts": {},
        }
        if parent is not None:
            parent["children"].append(rec)
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent["group"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def records(self) -> list[dict]:
        """Every span recorded so far, flat (``parent`` is a span id)."""
        return [{k: v for k, v in s.items() if k != "children"} for s in self.spans]

    def current(self) -> dict | None:
        """The innermost open span, or None when not tracing."""
        return self._stack[-1] if self.active and self._stack else None

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- Spark statistics ---------------------------------------------------

    def pass_metrics(self, pass_span: dict, cores: int) -> dict:
        """Per-layer metrics of one traced pass (sums over its spans)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        spans = _descendants(pass_span)
        jobs_of = {s["group"]: set(tracker.getJobIdsForGroup(s["group"])) for s in spans}
        stages_of = {}
        for j in set().union(*jobs_of.values()):
            info = tracker.getJobInfo(j)
            stages_of[j] = list(info.stageIds) if info is not None else []
        stats = {}
        for sid in {sid for ids in stages_of.values() for sid in ids}:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — never attempted: nothing ran
                continue
            if sd.status().toString() != "SKIPPED":
                stats[sid] = {f: getattr(sd, f)() for f in _STAGE_FIELDS}

        by_layer: dict[str, list[dict]] = {}
        for s in spans:
            by_layer.setdefault(s["layer"], []).append(s)

        def secs(layer: str) -> float:
            return sum(s["end"] - s["start"] for s in by_layer.get(layer, ()))

        def jobs(layer: str) -> set:
            """Jobs started anywhere inside the layer's spans."""
            return {
                j
                for s in by_layer.get(layer, ())
                for d in _descendants(s)
                for j in jobs_of[d["group"]]
            }

        def stage_sum(job_ids: set) -> dict:
            sids = {sid for j in job_ids for sid in stages_of[j] if sid in stats}
            tot = dict.fromkeys(_STAGE_FIELDS, 0)
            for sid in sids:
                for f in _STAGE_FIELDS:
                    tot[f] += stats[sid][f]
            tot["stages"] = len(sids)
            return tot

        def count(layer: str, key: str) -> int:
            return sum(s["counts"].get(key, 0) for s in by_layer.get(layer, ()))

        wall = pass_span["end"] - pass_span["start"]
        all_jobs = jobs("pass")
        ex = stage_sum(all_jobs)
        dq_jobs = jobs("dq")
        queries = by_layer.get("op", ())
        return {
            "sources.read_s": secs("sources.read"),
            "sources.read_jobs": len(jobs("sources.read")),
            "sources.write_s": secs("sources.write"),
            "sources.write_jobs": len(jobs("sources.write")),
            "sources.bytes_written": count("sources.write", "bytes"),
            "sources.files_written": count("sources.write", "files"),
            "sources.readback_s": secs("sources.readback"),
            "pipeline.transform_s": secs("pipeline.transform"),
            "pipeline.self_s": sum(_self_time(s) for s in by_layer.get("pipeline", ())),
            "pipeline.jobs": len(jobs("pipeline")),
            "dq.validate_s": secs("dq"),
            "dq.jobs": len(dq_jobs),
            "dq.input_bytes": stage_sum(dq_jobs)["inputBytes"],
            "catalog.construct_s": secs("catalog.construct"),
            "catalog.construct_jobs": len(jobs("catalog.construct")),
            "catalog.plan_s": secs("catalog.plan"),
            "catalog.execute_s": secs("catalog.execute"),
            "catalog.execute_jobs": len(jobs("catalog.execute")),
            "exec.jobs": len(all_jobs),
            "exec.stages": ex["stages"],
            "exec.tasks": ex["numTasks"],
            "exec.executor_run_s": ex["executorRunTime"] / 1e3,
            "exec.executor_cpu_s": ex["executorCpuTime"] / 1e9,
            "exec.gc_s": ex["jvmGcTime"] / 1e3,
            "exec.input_bytes": ex["inputBytes"],
            "exec.shuffle_read_bytes": ex["shuffleReadBytes"],
            "exec.shuffle_write_bytes": ex["shuffleWriteBytes"],
            "exec.spill_bytes": ex["memoryBytesSpilled"] + ex["diskBytesSpilled"],
            "exec.core_util": ex["executorRunTime"] / 1e3 / (wall * cores),
            "caching.persisted_peak": max(
                (q["counts"].get("persisted", 0) for q in queries), default=0
            ),
            "caching.leaked": sum(q["counts"].get("leaked", 0) for q in queries),
            "caching.lingering_rdds": max(
                (q["counts"].get("lingering", 0) for q in queries), default=0
            ),
        }


def _descendants(span: dict) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(s["children"])
    return out


def _self_time(span: dict) -> float:
    """Duration minus the part its (sequential) child spans cover."""
    covered = sum(c["end"] - c["start"] for c in span["children"])
    return span["end"] - span["start"] - covered


def install(tracer: Tracer) -> None:
    """Rebind the public layer functions to timing wrappers, in every
    loaded module of the package that holds a reference to them."""
    from etl_bigquery_pipeline_spark.plans import dq, pipeline
    from etl_bigquery_pipeline_spark.sources import readers

    targets = [
        (readers.read_table, "sources.read"),
        (readers.read_csv, "sources.read"),
        (readers.read_json, "sources.read"),
        (pipeline.transform_sales, "pipeline.transform"),
        (pipeline.transform_products, "pipeline.transform"),
        (dq.referential_integrity_check, "dq"),
        (dq.report_df, "dq"),
    ]
    for fn, layer in targets:
        wrapped = tracer.wrap(fn, layer)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for name, value in list(vars(mod).items()):
                    if value is fn:
                        setattr(mod, name, wrapped)
    dq.TableChecks.run = tracer.wrap(dq.TableChecks.run, "dq")


def traced_warehouse(tracer: Tracer):
    """A ParquetWarehouse whose loads and read-backs are spans; each load
    also counts the files and bytes it wrote (outside the span)."""
    from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse

    class TracedWarehouse(ParquetWarehouse):
        def overwrite(self, df, table):
            with tracer.span("sources.write") as rec:
                super().overwrite(df, table)
            if rec is not None:
                files = [
                    os.path.join(d, f)
                    for d, _, names in os.walk(self._path(table))
                    for f in names
                    if f.startswith("part-")
                ]
                rec["counts"]["files"] = len(files)
                rec["counts"]["bytes"] = sum(os.path.getsize(f) for f in files)

        def read(self, spark, table):
            with tracer.span("sources.readback"):
                return super().read(spark, table)

    return TracedWarehouse
