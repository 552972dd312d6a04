"""Spans around the gateway's layers, recorded from the benchmark's own
files, plus per-request Spark job attribution.

``install()`` replaces the public functions each layer exposes, on the
module (or class) attribute the route resolves at call time, with
wrappers that record a span (name, start, end, parent, request id) while
the calling thread is inside a traced request, and call straight through
otherwise. Functions that return iterators are traced per resumption, so
streamed bodies count where their work happens. Spans stay in memory
until ``dump``. A layer's self time is its spans' duration minus the
time their child spans cover.

Spark work is attributed from outside: each request runs under its own
job group, and after the run the status tracker gives that group's
jobs, stages and tasks.

Which end-to-end metric each per-layer metric should move, and on
which workload, is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import importlib
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    rid: str
    name: str
    parent: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int] | None:
        return getattr(self._local, "stack", None)

    def open(self, name: str) -> Span | None:
        stack = self._stack()
        if not stack:
            return None
        sp = Span(self._local.rid, name, stack[-1], time.perf_counter())
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._local.stack.pop()

    def begin_request(self, rid: str) -> None:
        self._local.rid = rid
        self._local.stack = [-1]
        self.open("server.request")

    def end_request(self, **attrs) -> Span:
        root = self.spans[self._local.stack[1]]
        root.attrs.update(attrs)
        self.close(root)
        self._local.stack = None
        return root

    # -- patching ---------------------------------------------------------

    def wrap(self, fn, name: str, iterates: bool = False, hook=None):
        tracer = self

        def traced(*args, **kwargs):
            sp = tracer.open(name)
            if sp is None:
                return fn(*args, **kwargs)
            result = exc = None
            try:
                result = fn(*args, **kwargs)
                return (tracer._iterate(result, name)
                        if iterates and hasattr(result, "__next__") else result)
            except BaseException as e:
                exc = e
                raise
            finally:
                if hook is not None:
                    hook(sp, args, kwargs, result, exc)
                tracer.close(sp)

        traced.__wrapped__ = fn
        return traced

    def _iterate(self, it, name: str):
        try:
            while True:
                sp = self.open(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    if sp is not None:
                        self.close(sp)
                yield item
        finally:
            close = getattr(it, "close", None)
            if close is not None:
                close()

    def patch(self, target, attr: str, name: str, iterates=False, hook=None):
        if isinstance(target, str):
            target = importlib.import_module(target)
        original = getattr(target, attr)
        self._patches.append((target, attr, original))
        setattr(target, attr, self.wrap(original, name, iterates, hook))

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._patches):
            setattr(target, attr, original)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "rid": sp.rid, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "attrs": sp.attrs,
                }, default=str) + "\n")


# -- hooks that record counts at the layer boundary ------------------------

def _prune_hook(sp, args, kwargs, result, exc):
    files = args[1] if len(args) > 1 else kwargs.get("files", [])
    sp.attrs["files_total"] = len(files)
    if result is not None:
        sp.attrs["files_planned"] = len(result)
        sp.attrs["bytes_planned"] = sum(
            os.path.getsize(f) for f in result if os.path.exists(f))


def _claim_hook(sp, args, kwargs, result, exc):
    from sensapp_spark.storage.lake import CommitConflict

    sp.attrs["cas_attempts"] = 1
    sp.attrs["cas_losses"] = int(isinstance(exc, CommitConflict))


def _tick_hook(sp, args, kwargs, result, exc):
    if isinstance(result, dict):
        sp.attrs["conflicts"] = result.get("conflicts", 0)


# (module or class, attribute, span name, iterates, hook)
def _layer_patches():
    from pyspark.sql.classic.dataframe import DataFrame

    from sensapp_spark.storage.lake import SensorLake

    app = "sensapp_spark.server.app"
    ext = "sensapp_spark.query.promql_ext"
    serve = "sensapp_spark.query.rollup_serve"
    sel = "sensapp_spark.operators.selection"
    zm = "sensapp_spark.storage.zonemap"
    csvx = "sensapp_spark.exporters.csv_exporter"
    arrowx = "sensapp_spark.exporters.arrow_exporter"
    promr = "sensapp_spark.exporters.prometheus_read"
    promw = "sensapp_spark.ingest.prometheus_write"
    prompb = "sensapp_spark.wire.prompb"
    return [
        (app, "parse_promql_query", "query.parse", False, None),
        (ext, "parse_extended_expr", "query.parse", False, None),
        *[(ext, f, "query.plan", False, None) for f in (
            "evaluate_range", "evaluate_extended", "evaluate_binary",
            "evaluate_range_binary")],
        *[(serve, f, "query.rollup", False, None) for f in (
            "evaluate_range_rollup", "evaluate_instant_rollup",
            "maintained_grains")],
        (sel, "probe_sensor_rows", "operators.select", False, None),
        (sel, "select_sensors", "operators.select", False, None),
        (ext, "select_sensors", "operators.select", False, None),
        (sel, "query_samples", "operators.select", False, None),
        (app, "query_samples", "operators.select", False, None),
        (promr, "query_samples", "operators.select", False, None),
        (SensorLake, "values", "storage.plan", False, None),
        (SensorLake, "sensors", "storage.plan", False, None),
        (zm, "prune_files", "storage.plan", False, _prune_hook),
        (SensorLake, "publish", "storage.publish", False, None),
        (SensorLake, "upsert_sensors", "storage.upsert", False, None),
        (SensorLake, "append_values", "storage.append", False, None),
        ("sensapp_spark.storage.lake", "atomic_overwrite",
         "storage.overwrite", False, None),
        ("sensapp_spark.storage.lake", "_claim_commit", "storage.claim",
         False, _claim_hook),
        (zm, "refresh_zonemap", "storage.zonemap_fold", False, None),
        (zm, "file_stats_many", "storage.zonemap_fold", False, None),
        (app, "ingest_lines", "ingest.parse", False, None),
        (app, "ingest_csv", "ingest.parse", False, None),
        (app, "ingest_remote_write", "ingest.parse", False, None),
        (arrowx, "multi_rows", "exporters.serialize", True, None),
        *[(arrowx, f, "exporters.serialize", False, None) for f in (
            "arrow_multi_bytes_from_rows", "parquet_multi_bytes_from_rows")],
        *[(arrowx, f, "exporters.serialize", True, None) for f in (
            "iter_arrow_from_rows", "iter_parquet_from_rows")],
        (csvx, "lines_multi", "exporters.serialize", False, None),
        (csvx, "chunk_lines", "exporters.serialize", True, None),
        (csvx, "row_lines", "exporters.serialize", True, None),
        ("sensapp_spark.exporters.jsonl_exporter", "lines_jsonl",
         "exporters.serialize", False, None),
        (app, "iter_senml", "exporters.serialize", True, None),
        (app, "handle_read_request", "exporters.serialize", False, None),
        (promr, "iter_read_request_streamed", "exporters.serialize", True,
         None),
        ("sensapp_spark.wire.snappy_codec", "compress", "wire.codec", False,
         None),
        ("sensapp_spark.wire.snappy_codec", "decompress", "wire.codec", False,
         None),
        (prompb, "decode_read_request", "wire.codec", False, None),
        (promr, "decode_read_request", "wire.codec", False, None),
        (promr, "encode_read_response", "wire.codec", False, None),
        (promw, "decode_write_request", "wire.codec", False, None),
        ("sensapp_spark.wire.xorchunk", "encode_xor_chunk", "wire.codec",
         False, None),
        *[(DataFrame, f, "spark.action", f == "toLocalIterator", None)
          for f in ("collect", "toLocalIterator", "toArrow", "count",
                    "first")],
        ("sensapp_spark.streaming.maintenance", "maintenance_tick",
         "maintenance.tick", False, _tick_hook),
    ]


def install(tracer: Tracer) -> None:
    for target, attr, name, iterates, hook in _layer_patches():
        tracer.patch(target, attr, name, iterates, hook)


# -- Spark attribution -----------------------------------------------------

def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def spark_counts(spark, group: str) -> dict:
    tracker = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage in info.stageIds:
            st = tracker.getStageInfo(stage)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
    return out


# -- per-layer metrics -----------------------------------------------------

SELF_TIME = {  # metric: span-name prefix whose SELF time it sums
    "server.self_ms": "server.request",
    "query.parse_ms": "query.parse",
    "query.plan_ms": "query.plan",
    "query.rollup_plan_ms": "query.rollup",
    "operators.probe_ms": "operators.",
    "storage.values_plan_ms": "storage.plan",
    "exporters.serialize_ms": "exporters.",
    "wire.codec_ms": "wire.",
    "ingest.parse_ms": "ingest.",
}
INCLUSIVE = {  # metric: span name whose OUTERMOST spans' duration it sums
    "spark.action_ms": "spark.action",
    "storage.publish_ms": "storage.publish",
    "storage.upsert_ms": "storage.upsert",
    "storage.append_ms": "storage.append",
    "storage.zonemap_fold_ms": "storage.zonemap_fold",
    "maintenance.tick_ms": "maintenance.tick",
}

PER_LAYER_UNITS = {
    "server.self_ms": "ms", "server.response_bytes": "bytes",
    "query.parse_ms": "ms", "query.plan_ms": "ms",
    "query.rollup_plan_ms": "ms", "query.rollup_served": "count",
    "query.raw_served": "count", "query.rollup_hit_ratio": "ratio",
    "operators.probe_ms": "ms", "operators.probe_calls": "count/req",
    "storage.values_plan_ms": "ms", "storage.files_total": "count/req",
    "storage.files_planned": "count/req",
    "storage.files_planned_ratio": "ratio",
    "storage.bytes_planned": "bytes",
    "storage.publish_ms": "ms", "storage.upsert_ms": "ms",
    "storage.append_ms": "ms", "storage.cas_attempts": "count",
    "storage.cas_losses": "count", "storage.zonemap_fold_ms": "ms",
    "ingest.parse_ms": "ms", "ingest.rows": "count",
    "exporters.serialize_ms": "ms", "wire.codec_ms": "ms",
    "spark.action_ms": "ms", "spark.jobs": "count/req",
    "spark.stages": "count/req", "spark.tasks": "count/req",
    "spark.failed_tasks": "count/req",
    "maintenance.tick_ms": "ms", "maintenance.conflicts": "count",
    "trace.overhead_pct": "%",
}
# Metrics averaged over the traced requests of these routes only.
WRITE_METRICS = {"storage.publish_ms", "storage.upsert_ms",
                 "storage.append_ms", "storage.zonemap_fold_ms",
                 "ingest.parse_ms"}


def per_layer(tracer: Tracer, traced: list[dict]) -> dict:
    """Per-layer metrics over the traced requests. ``traced`` holds one
    dict per traced request: rid, route, bytes, served, rows, and the
    request's Spark counts. Times are means per request (write metrics
    per write request, the tick per maintenance request) in ms."""
    spans = tracer.spans
    child_time = [0.0] * len(spans)
    for sp in spans:
        if sp.parent >= 0:
            child_time[sp.parent] += sp.end - sp.start
    totals: dict[str, float] = {m: 0.0 for m in PER_LAYER_UNITS}
    for i, sp in enumerate(spans):
        dur = sp.end - sp.start
        for metric, prefix in SELF_TIME.items():
            if sp.name.startswith(prefix):
                totals[metric] += dur - child_time[i]
        for metric, name in INCLUSIVE.items():
            if sp.name == name and (
                    sp.parent < 0 or spans[sp.parent].name != name):
                totals[metric] += dur
        if sp.name.startswith("operators."):
            totals["operators.probe_calls"] += 1
        for key in ("files_total", "files_planned", "bytes_planned"):
            totals[f"storage.{key}"] += sp.attrs.get(key, 0)
        totals["storage.cas_attempts"] += sp.attrs.get("cas_attempts", 0)
        totals["storage.cas_losses"] += sp.attrs.get("cas_losses", 0)
        totals["maintenance.conflicts"] += sp.attrs.get("conflicts", 0)
    n = max(1, len(traced))
    n_write = max(1, sum(r["route"] == "ingest" for r in traced))
    n_tick = max(1, sum(r["route"] == "maintain" for r in traced))
    out: dict[str, float] = {}
    for metric in PER_LAYER_UNITS:
        value = totals[metric]
        if metric.endswith("_ms"):
            value *= 1000.0
            value /= (n_write if metric in WRITE_METRICS
                      else n_tick if metric == "maintenance.tick_ms" else n)
        elif PER_LAYER_UNITS[metric] in ("count/req", "bytes"):
            value /= n
        out[metric] = value
    out["server.response_bytes"] = sum(r["bytes"] for r in traced) / n
    served = [r["served"] for r in traced if r["served"]]
    out["query.rollup_served"] = sum(s.startswith("rollup") for s in served)
    out["query.raw_served"] = sum(s == "raw" for s in served)
    out["query.rollup_hit_ratio"] = (
        out["query.rollup_served"] / len(served) if served else 0.0)
    total_files = totals["storage.files_total"]
    out["storage.files_planned_ratio"] = (
        totals["storage.files_planned"] / total_files if total_files else 0.0)
    out["ingest.rows"] = sum(r["rows"] for r in traced)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{key}"] = sum(r["spark"][key] for r in traced) / n
    return out
