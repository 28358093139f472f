"""Spans and per-layer probes for the traced run.

Spans are recorded only in the benchmark's own code, around its calls
into the package's public functions: nothing inside the package is
instrumented. A span carries its name, start, end, parent span and op
id; spans stay in memory and are written once when the run ends.

Probes read counters Spark already keeps (status tracker, the
QueryPlanningTracker's phases, executed-plan SQL metrics, JVM MXBeans)
after an op has finished, outside its timed section.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from ocdb_server_spark.metrics import profile


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when enabled; a disabled tracer only keeps the
    stack bookkeeping, so the untraced run pays two clock reads."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _t0: float = field(default_factory=time.perf_counter)

    @contextmanager
    def span(self, name: str, op: int = -1):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, parent, time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children
        cover, summed over all spans of that name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - child[i]) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
                     "start_s": s.start, "end_s": s.end}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


class JobCounter:
    """What the jobs of a phase did, read from Spark's status store
    through a job group set around the phase: jobs, stages and tasks
    run, shuffle written, rows read, spill and peak execution memory.
    This covers every job an op launches, writes included, whether or
    not the benchmark holds the DataFrame that ran it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> dict[str, float]:
        jobs = self.tracker.getJobIdsForGroup(name)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
             "shuffle_records", "input_rows", "spill_bytes", "peak_mem_bytes"), 0)
        out["jobs"] = len(jobs)
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.store.lastStageAttempt(sid)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["exchanges"] += st.shuffleWriteRecords() > 0
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["input_rows"] += st.inputRecords()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"], st.peakExecutionMemory())
        return out


def catalyst_ms(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations of the frame's own query
    execution (forced through executedPlan first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_metrics(df) -> dict[str, float]:
    """Rows the executed plan scanned and the Python-worker time of its
    nodes (the python*Time SQL metrics, in ms); the plan has already
    run."""
    p = profile(df, materialize=False)
    python_ms = sum(
        v for n in p.nodes for k, v in n.metrics.items()
        if k.startswith("python") and k.endswith("Time")
    )
    return {"plan.scan_rows": p.scan_rows, "python.worker_ms": python_ms}


class Jvm:
    """GC time and heap use of the driver JVM through its MXBeans."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> float:
        beans = self.mf.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def heap_used_mb(self) -> float:
        return self.mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def cache_mb(spark) -> float:
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20
