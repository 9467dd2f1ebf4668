"""Per-layer metrics of a traced run, aggregated from its spans.

A workload's timed loop repeats one unit: a pass over the query list
(``olap_mix``) or a timed EP1+EP2 cycle (``ingest_stream``). Time and
counter metrics are summed over one unit's spans and reported as the
median over units, so counts do not depend on how many units fit into
``--seconds``. Metrics of a layer a workload does not touch read 0.
"""

from __future__ import annotations

import datetime as dt
import statistics

from perfbench import trace
from perfbench.workloads import Context

UNITS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_busy_ratio": "ratio",
    "spark.catalyst_analysis_ms": "ms",
    "spark.catalyst_optimization_ms": "ms",
    "spark.catalyst_planning_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_records": "count",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.python_bytes": "bytes",
    "spark.storage_mb": "MB",
    "spark.cached_mb_end": "MB",
    "sources.scan_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "ingest.refresh_dimension_s": "s",
    "ingest.fact_batch_s": "s",
    "ingest.rows_appended": "count",
    "ingest.rows_rejected": "count",
    "ingest.orphans": "count",
    "streaming.start_s": "s",
    "streaming.trigger_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.source_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.triggers": "count",
    "streaming.input_rows": "count",
    "streaming.rows_per_s": "rows/s",
    "streaming.jobs": "count",
    "streaming.stages": "count",
    "streaming.state_rows_end": "count",
    "streaming.state_mem_bytes": "bytes",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0


def _subtree(tracer: trace.Tracer, root: trace.Span) -> list[trace.Span]:
    out, frontier = [], [root]
    while frontier:
        sp = frontier.pop()
        out.append(sp)
        frontier.extend(tracer.children(sp))
    return out


def _units(ctx: Context) -> list[trace.Span]:
    return [s for s in ctx.tracer.spans if s.attrs.get("timed")]


def per_layer(ctx: Context) -> dict[str, float]:
    tr, spark = ctx.tracer, ctx.spark
    m = {k: 0 for k in UNITS}
    m["session.start_s"] = _med(s.duration for s in tr.spans if s.name == "session.start")
    m["session.jvm_peak_rss_mb"] = trace.jvm_peak_rss_mb(spark)
    m["spark.cached_mb_end"] = trace.cached_mb(spark)

    py_bytes = trace.python_bytes_by_job(spark)
    per_unit: list[dict] = []
    for unit in _units(ctx):
        tree = _subtree(tr, unit)
        build = [s for s in tree if s.name == "plans.build"]
        engine = [s for s in tree if s.name != "plans.build"]
        execs = [s for s in tree if s.name == "spark.exec"]
        queries = [s for s in tree if s.name == "query"]

        def total(spans, key):
            return sum(s.counters.get(key, 0) for s in spans)

        exec_wall = sum(s.duration for s in execs) if execs else unit.duration
        cat = [s.attrs.get("catalyst_ms", {}) for s in queries]
        u = {
            "plans.build_s": sum(s.duration for s in build),
            "plans.build_jobs": total(build, "jobs"),
            "plans.build_stages": total(build, "stages"),
            "spark.exec_s": exec_wall,
            "spark.jobs": total(engine, "jobs"),
            "spark.stages": total(engine, "stages"),
            "spark.tasks": total(engine, "tasks"),
            "spark.core_busy_ratio": total(engine, "run_ms") / 1e3 / (exec_wall * ctx.nproc),
            "spark.catalyst_analysis_ms": sum(c.get("analysis", 0) for c in cat),
            "spark.catalyst_optimization_ms": sum(c.get("optimization", 0) for c in cat),
            "spark.catalyst_planning_ms": sum(c.get("planning", 0) for c in cat),
            "spark.input_bytes": total(engine, "input_bytes"),
            "spark.shuffle_read_bytes": total(engine, "shuffle_read_bytes"),
            "spark.shuffle_write_bytes": total(engine, "shuffle_write_bytes"),
            "spark.shuffle_records": total(engine, "shuffle_records"),
            "spark.spill_bytes": total(engine, "spill_memory_bytes") + total(engine, "spill_disk_bytes"),
            "spark.executor_cpu_s": total(tree, "cpu_ns") / 1e9,
            "spark.gc_s": total(tree, "gc_ms") / 1e3,
            "spark.python_bytes": sum(
                py_bytes.get(j, 0) for s in engine for j in s.counters.get("job_ids", ())
            ),
            "spark.storage_mb": max((s.attrs.get("storage_mb", 0) for s in queries), default=0),
            "sources.write_s": total(engine, "write_job_ms") / 1e3,
            "sources.bytes_written": total(engine, "output_bytes"),
            "ingest.refresh_dimension_s": sum(s.duration for s in tree if s.name == "ingest.refresh_dimension"),
            "ingest.fact_batch_s": sum(s.duration for s in tree if s.name == "ingest.ingest_fact_batch"),
        }
        if unit.name == "ingest.cycle" and "facts_ingested" in unit.attrs:
            a = unit.attrs
            u["ingest.rows_appended"] = a["facts_ingested"]
            u["ingest.orphans"] = a["facts_orphaned"]
            u["ingest.rows_rejected"] = (
                2 * a["dims_offered"] - a["new_products"] - a["new_customers"]
                + a["facts_generated"] - a["facts_orphaned"] - a["facts_ingested"]
            )
        per_unit.append(u)
    for key in {k for u in per_unit for k in u}:
        m[key] = _med(u[key] for u in per_unit if key in u)
    m["spark.storage_mb"] = max((u["spark.storage_mb"] for u in per_unit), default=0)

    scans = {}
    for s in tr.spans:
        if s.name == "sources.scan":
            scans.setdefault(s.attrs["table"], []).append(s.duration)
    m["sources.scan_s"] = sum(_med(v) for v in scans.values())
    m["sources.files_written"] = ctx.info.get("files_written", 0)

    drain = [s for s in tr.spans if s.name == "streaming.drain"]
    progress = drain[0].attrs.get("progress", []) if drain else []
    if progress:
        def ms(key):
            return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

        first = dt.datetime.fromisoformat(progress[0]["timestamp"].replace("Z", "+00:00"))
        m["streaming.start_s"] = first.timestamp() - ctx.info["stream_start_epoch"]
        m["streaming.trigger_p50_s"] = _med(p["durationMs"]["triggerExecution"] / 1e3 for p in progress)
        m["streaming.add_batch_s"] = ms("addBatch")
        m["streaming.source_s"] = ms("latestOffset") + ms("getBatch")
        m["streaming.planning_s"] = ms("queryPlanning")
        m["streaming.commit_s"] = ms("walCommit") + ms("commitOffsets")
        m["streaming.triggers"] = len(progress)
        m["streaming.input_rows"] = sum(p["numInputRows"] for p in progress)
        m["streaming.rows_per_s"] = ctx.info.get("stream_rows", 0) / ctx.info["drain_s"]
        ops = progress[-1].get("stateOperators") or [{}]
        m["streaming.state_rows_end"] = ops[0].get("numRowsTotal", 0)
        m["streaming.state_mem_bytes"] = ops[0].get("memoryUsedBytes", 0)
        counters = trace.job_group_counters(spark, ctx.info["stream_run_id"])
        m["streaming.jobs"] = counters["jobs"]
        m["streaming.stages"] = counters["stages"]
    return m
