"""Spans and Spark counters for the traced run.

A span covers one call into a layer of the package, made from the
benchmark's own code: name, start, end, parent span, op id.  In the traced
run each span also owns a Spark job group ``<workload>/<op>::<phase>``, and
when it closes, the jobs of that group are read back from Spark's status
tracker and status store (both work with ``spark.ui.enabled=false``):
jobs, stages, tasks, executor CPU, GC, and input, shuffle, spill and output
bytes.  Streaming drains run their jobs on the query's own thread, under
the query's run id as job group, so a drain span reads that group instead.

Spans stay in memory and are written out when the run ends.  A span's
self time is its duration minus the time its child spans cover.  The
untraced run uses :class:`NullTracer`, which only calls the function.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# status-store StageData getters summed per span
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
    "output_rows": ("outputRecords", 1),
}


@dataclass
class Span:
    name: str
    op: str
    start: float
    parent: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class NullTracer:
    """Untraced runs: no job groups, no counters, no spans."""

    enabled = False

    def arm(self) -> None:
        pass

    def active_op(self) -> str | None:
        return None

    @contextmanager
    def span(self, op: str, name: str, group: str | None = None):
        yield None

    def stream_group(self, span, run_id: str) -> None:
        pass

    def add(self, span, **counters) -> None:
        pass


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        self.armed = False

    enabled = True

    def arm(self) -> None:
        """Start recording: set-up and warm-up run before this, untraced."""
        self.armed = True

    def active_op(self) -> str | None:
        return self.spans[self._stack[-1]].op if self._stack else None

    @contextmanager
    def span(self, op: str, name: str, group: str | None = None):
        """Time one layer call.  ``group`` is the phase named in the job
        group (``build``, ``plan``, ``action``, ``write``, ``drain``, ...);
        jobs launched inside the span are attributed to it."""
        if not self.armed:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, time.perf_counter(), parent)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        gid = f"{self.workload}/{op}::{group or name}"
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, gid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            t = time.perf_counter()
            self._collect(sp, gid)
            sp.counters["readback_s"] = time.perf_counter() - t
            if parent is not None:
                # the parent's self time excludes this span and its read-back
                self.spans[parent].child_s += time.perf_counter() - sp.start

    def stream_group(self, span: Span | None, run_id: str) -> None:
        """Attribute a streaming query's jobs (group = its run id) to ``span``."""
        if span is not None:
            t = time.perf_counter()
            self._collect(span, run_id)
            self.add(span, readback_s=time.perf_counter() - t)

    def add(self, span: Span | None, **counters) -> None:
        if span is None:
            return
        for k, v in counters.items():
            span.counters[k] = span.counters.get(k, 0) + v

    def _collect(self, sp: Span, group: str) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = sorted(self._tracker.getJobIdsForGroup(group))
        c = {"jobs": len(jobs), "stages": 0}
        for k in STAGE_COUNTERS:
            c[k] = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                c["stages"] += 1
                for k, (getter, scale) in STAGE_COUNTERS.items():
                    c[k] += getattr(st, getter)() * scale
        self.add(sp, **c)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = {
                    "id": i,
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "self_s": round(s.self_s, 6),
                    "counters": s.counters,
                }
                f.write(json.dumps(rec) + "\n")


# the per-layer metrics every traced run prints, in BENCHMARK.json order
PER_LAYER = (
    "session.start_s",
    "catalog.load_s",
    "catalog.load_jobs",
    "operators.build_s",
    "operators.build_jobs",
    "plans.plan_s",
    "operators.action_s",
    "operators.action_jobs",
    "operators.stages",
    "operators.tasks",
    "operators.task_cpu_s",
    "operators.gc_s",
    "operators.input_bytes",
    "operators.shuffle_read_bytes",
    "operators.shuffle_write_bytes",
    "operators.spill_bytes",
    "sources.read_s",
    "sources.pages",
    "sources.rows",
    "sources.lake.write_s",
    "sources.lake.bytes_written",
    "sources.lake.files",
    "sources.lake.bytes_per_row",
    "sources.lake.error_rows",
    "operators.ingest.merge_s",
    "operators.ingest.merge_shuffle_bytes",
    "streaming.drain_s",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.commit_s",
    "streaming.overhead_s",
    "trace.pass_s",
    "trace.readback_s",
    "rss_peak_mb",
)


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-pass sums of the spans, one entry per PER_LAYER name (0 for a
    layer the workload never calls).  Times are self times, so the layers
    add up without double counting; ``catalog.load_jobs`` is per load."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    loads = lake_rows = 0
    for s in spans:
        c = s.counters
        m["trace.readback_s"] += c.get("readback_s", 0)
        if s.name == "catalog.load":
            loads += 1
            m["catalog.load_s"] += s.self_s
            m["catalog.load_jobs"] += c["jobs"]
        elif s.name == "operators.build":
            m["operators.build_s"] += s.self_s
            m["operators.build_jobs"] += c["jobs"]
        elif s.name == "plans.plan":
            m["plans.plan_s"] += s.self_s
        elif s.name == "operators.action":
            m["operators.action_s"] += s.self_s
            m["operators.action_jobs"] += c["jobs"]
            for k in ("stages", "tasks", "task_cpu_s", "gc_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                m[f"operators.{k}"] += c[k]
        elif s.name == "sources.read":
            m["sources.read_s"] += s.self_s
            m["sources.pages"] += c.get("pages", 0)
            m["sources.rows"] += c.get("rows", 0)
        elif s.name == "sources.lake.write":
            m["sources.lake.write_s"] += s.self_s
            m["sources.lake.bytes_written"] += c.get("bytes_written", 0)
            m["sources.lake.files"] += c.get("files", 0)
            m["sources.lake.error_rows"] += c.get("error_rows", 0)
            lake_rows += c.get("rows", 0)
        elif s.name == "operators.ingest.merge":
            m["operators.ingest.merge_s"] += s.self_s
            m["operators.ingest.merge_shuffle_bytes"] += c["shuffle_write_bytes"]
        elif s.name == "streaming.drain":
            m["streaming.drain_s"] += s.self_s
            m["streaming.trigger_s"] += c.get("trigger_s", 0)
            m["streaming.add_batch_s"] += c.get("add_batch_s", 0)
            m["streaming.commit_s"] += c.get("commit_s", 0)
            m["streaming.overhead_s"] += s.self_s - c.get("trigger_s", 0)
            m["sources.read_s"] += c.get("source_s", 0)
            m["sources.pages"] += c.get("pages", 0)
            m["sources.rows"] += c.get("rows", 0)
    if loads:
        m["catalog.load_jobs"] /= loads
    if lake_rows:
        m["sources.lake.bytes_per_row"] = m["sources.lake.bytes_written"] / lake_rows
    return m
