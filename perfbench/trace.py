"""Spans around the benchmark's calls into the engine, with Spark counters.

A span is one call the benchmark makes into a layer (``session``,
``plans``, ``spark``, ``sources``, ``ingest``, ``streaming``): name, start,
end, parent, run id. Every span is timed; when tracing is on, each span
also runs under its own Spark job group, and on exit the counters of the
group's jobs are read from Spark's status store. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# StageData fields summed per span, under the names the metrics use
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_records": "shuffleWriteRecords",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled`` it also tags and counts Spark jobs."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = None  # set once a session exists

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, len(self.spans), parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}:{sp.span_id}"
        sc = self._context()
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            # a span that restarted the session has no jobs to read back
            if sc is not None and sc is self._context():
                if self._stack:
                    outer = self._stack[-1]
                    sc.setJobGroup(f"{self.run_id}:{outer.span_id}", outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                sp.counters = job_group_counters(self.spark, group)

    def _context(self):
        return self.spark.sparkContext if self.enabled and self.spark else None

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(c.duration for c in self.children(sp))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "span_id": s.span_id,
                    "parent": s.parent, "name": s.name,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                    "self_s": round(self.self_time(s), 6),
                    **s.attrs, "counters": s.counters,
                }) + "\n")


def job_group_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and summed stage metrics of one job group."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store has seen every job end
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "write_job_ms": 0,
           **{k: 0 for k in _STAGE_FIELDS}, "job_ids": []}
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:  # evicted from the store
            continue
        out["jobs"] += 1
        out["job_ids"].append(jid)
        job_output = 0
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)()
            job_output += sd.outputBytes()
        if job_output:
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["write_job_ms"] += (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                )
    return out


_PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def python_bytes_by_job(spark) -> dict[int, int]:
    """Bytes sent to and returned from Python workers, from the SQL
    metrics of every retained query execution that has a Python exec
    node (Arrow UDFs, ``mapInPandas``, Python data sources). Each
    execution's bytes are keyed by its first job id."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[int, int] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        if "Python" not in e.physicalPlanDescription():
            continue
        keys = e.jobs().keysIterator()
        job_ids = []
        while keys.hasNext():
            job_ids.append(keys.next())
        if not job_ids:
            continue
        values = store.executionMetrics(e.executionId())
        metrics = e.metrics()
        total = 0
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() not in _PYTHON_METRICS:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                # "total (min, med, max ...)\n<total> (...)" or just "<total>"
                hit = _SIZE.search(v.get().split("\n")[-1])
                if hit:
                    total += round(float(hit.group(1)) * _SIZE_UNITS[hit.group(2)])
        out[min(job_ids)] = out.get(min(job_ids), 0) + total
    return out


def catalyst_phases_ms(df) -> dict:
    """Analysis, optimization and planning time of ``df``'s own query
    execution; forces its physical plan if no action has built it yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def cached_mb(spark) -> float:
    """Storage memory held by cached and checkpointed blocks, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (Linux ``VmHWM``), in MB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
