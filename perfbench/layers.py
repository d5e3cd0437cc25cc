"""Per-layer metrics of a traced run.

Spans come from the benchmark's wrappers around the calls into each
layer (:func:`patches`); jobs, stages and executor counters come from
Spark's status stores (``status.py``). Every value is per traced pass.
"""

from __future__ import annotations

import re
import statistics

import stats
import status
from tracing import Patches, Tracer

LIB = "parcel_analytics_etl_notebook_spark"

#: (metric name, unit, better) for every per-layer metric, in print order
METRICS = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("sources.listing_jobs", "count", "lower"),
    ("sources.listing_s", "s", "lower"),
    ("sources.table_s", "s", "lower"),
    ("sources.input_bytes", "bytes", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.bytes_written", "bytes", "lower"),
    ("sources.files_written", "count", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("plans.execute_s", "s", "lower"),
    ("plans.eager_jobs", "count", "lower"),
    ("plans.eager_s", "s", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    ("operators.eager_s", "s", "lower"),
    ("catalog.memo_calls", "count", "lower"),
    ("catalog.memo_jobs", "count", "lower"),
    ("catalog.memo_s", "s", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.unattributed_jobs", "count", "lower"),
    ("driver.gap_s", "s", "lower"),
    ("executor.run_s", "s", "lower"),
    ("executor.cpu_s", "s", "lower"),
    ("executor.gc_s", "s", "lower"),
    ("executor.busy_frac", "ratio", "higher"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("spill.disk_bytes", "bytes", "lower"),
    ("spill.memory_bytes", "bytes", "lower"),
    ("cache.peak_storage_mb", "MB", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.compact_s", "s", "lower"),
    ("streaming.compact_bytes", "bytes", "lower"),
    ("streaming.state_files", "count", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.self_time_frac", "ratio", "higher"),
]


def _traced_sink(tracer: Tracer, apply_batch):
    """Wrap the ``foreachBatch`` callable the sink factory returns."""

    def traced(batch_df, batch_id):
        with tracer.span("streaming.add_batch"):
            return apply_batch(batch_df, batch_id)

    return traced


def patches(tracer: Tracer) -> Patches:
    """The library functions a traced pass wraps in spans."""
    p = Patches(tracer, LIB)
    p.add(f"{LIB}.plans.catalog", "table", "sources.table")
    p.add(f"{LIB}.plans.catalog", "memo_frame", "catalog.memo_frame")
    p.add(
        f"{LIB}.streaming.dedup_maintenance",
        "near_dup_maintenance_sink",
        "streaming.sink_factory",
        wrap_result=_traced_sink,
    )
    return p


_PASS = re.compile(r"^p(-?\d+)[-:]")


def _job_pass(group: str | None, stream_pass: dict[str, int]) -> int | None:
    if group in stream_pass:
        return stream_pass[group]
    m = _PASS.match(group or "")
    return int(m.group(1)) if m else None


def per_layer(bench, tracer: Tracer, passes: list[dict]) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the traced passes, and the attributed job
    rows of the whole run (for the trace file)."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = len(traced)
    traced_nos = {p["pass"] for p in traced}
    wall = sum(p["seconds"] for p in traced)

    sc = bench.spark.sparkContext
    store = status.StatusStore(sc.uiWebUrl, sc.applicationId)
    stream_pass = {s["run_id"]: s["pass"] for s in bench.streams}
    jobs = store.job_rows(set(stream_pass))
    for j in jobs:
        j["pass"] = _job_pass(j["group"], stream_pass)
    tj = [j for j in jobs if j["pass"] in traced_nos]
    stages = {s["stageId"]: s for s in store.stages if s["status"] == "COMPLETE"}

    def stage_sum(js, key):
        return sum(stages[sid].get(key, 0) for j in js for sid in j["stages"] if sid in stages)

    def job_s(js):
        return sum(j["end"] - j["start"] for j in js if j["end"] is not None)

    def layer(name):
        return [j for j in tj if j["layer"] == name]

    span_total: dict[str, float] = {}
    span_count: dict[str, int] = {}
    covered = 0.0
    for p in traced:
        covered += sum(v for name, v in tracer.self_times(p["root"]).items() if name != "pass")
        for s in tracer.descendants(p["root"]):
            span_total[s.name] = span_total.get(s.name, 0.0) + (s.end - s.start)
            span_count[s.name] = span_count.get(s.name, 0) + 1

    writes = [j for j in tj if stage_sum([j], "outputBytes") > 0]
    build = [j for j in tj if (j["group"] or "").endswith(":build")]
    run_s = stage_sum(tj, "executorRunTime") / 1000.0
    streams = [s for s in bench.streams if s["pass"] in traced_nos]
    progress = [p for s in streams for p in s["progress"]]
    compact = layer("streaming.compact")
    traced_pass_s = statistics.median(p["seconds"] for p in traced)

    m = {
        "session.start_s": bench.session_start_s,
        "session.warmup_s": bench.session_warmup_s,
        "sources.listing_jobs": len(layer("sources.listing")) / n,
        "sources.listing_s": job_s(layer("sources.listing")) / n,
        "sources.table_s": span_total.get("sources.table", 0.0) / n,
        "sources.input_bytes": stage_sum(tj, "inputBytes") / n,
        "sources.write_s": job_s(writes) / n,
        "sources.bytes_written": stage_sum(tj, "outputBytes") / n,
        "sources.files_written": store.files_written({j["sql"] for j in tj if j["sql"] is not None}) / n,
        "plans.build_s": span_total.get("plans.build", 0.0) / n,
        "plans.build_jobs": len(build) / n,
        "plans.execute_s": span_total.get("plans.execute", 0.0) / n,
        "plans.eager_jobs": len(layer("plans.eager")) / n,
        "plans.eager_s": job_s(layer("plans.eager")) / n,
        "operators.eager_jobs": len(layer("operators.eager")) / n,
        "operators.eager_s": job_s(layer("operators.eager")) / n,
        "catalog.memo_calls": span_count.get("catalog.memo_frame", 0) / n,
        "catalog.memo_jobs": len(layer("catalog.memo")) / n,
        "catalog.memo_s": (span_total.get("catalog.memo_frame", 0.0) + job_s(layer("catalog.memo"))) / n,
        "catalyst.analysis_s": bench.catalyst.get("analysis", 0.0) / n,
        "catalyst.optimization_s": bench.catalyst.get("optimization", 0.0) / n,
        "catalyst.planning_s": bench.catalyst.get("planning", 0.0) / n,
        "spark.jobs": len(tj) / n,
        "spark.stages": len({sid for j in tj for sid in j["stages"] if sid in stages}) / n,
        "spark.tasks": stage_sum(tj, "numTasks") / n,
        "spark.unattributed_jobs": len(layer("unattributed")) / n,
        "driver.gap_s": (wall - stats.union_length([(j["start"], j["end"]) for j in tj if j["end"]])) / n,
        "executor.run_s": run_s / n,
        "executor.cpu_s": stage_sum(tj, "executorCpuTime") / 1e9 / n,
        "executor.gc_s": stage_sum(tj, "jvmGcTime") / 1000.0 / n,
        "executor.busy_frac": run_s / (wall * bench.cores),
        "shuffle.read_bytes": stage_sum(tj, "shuffleReadBytes") / n,
        "shuffle.write_bytes": stage_sum(tj, "shuffleWriteBytes") / n,
        "spill.disk_bytes": stage_sum(tj, "diskBytesSpilled") / n,
        "spill.memory_bytes": stage_sum(tj, "memoryBytesSpilled") / n,
        "cache.peak_storage_mb": bench.peak_storage_mb,
        "streaming.batches": len(progress) / n,
        "streaming.input_rows": sum(p["numInputRows"] for p in progress) / n,
        "streaming.trigger_s": _median_ms(progress, "triggerExecution"),
        "streaming.add_batch_s": _median_ms(progress, "addBatch"),
        "streaming.compact_s": span_total.get("streaming.compact", 0.0) / n,
        "streaming.compact_bytes": stage_sum(compact, "outputBytes") / n,
        "streaming.state_files": sum(s["state_files"] for s in streams) / n,
        "trace.pass_s": traced_pass_s,
        "trace.overhead_s": traced_pass_s - statistics.median(p["seconds"] for p in untraced),
        "trace.self_time_frac": covered / wall,
    }
    units = {name: unit for name, unit, _ in METRICS}
    return {k: (m[k], units[k]) for k, _, _ in METRICS}, jobs


def _median_ms(progress: list[dict], key: str) -> float:
    vals = [p["durationMs"].get(key, 0) / 1000.0 for p in progress]
    return statistics.median(vals) if vals else 0.0
