"""Spans and per-job-group Spark counters for the traced run.

A span is recorded around each call into a layer of the engine: name,
start, end and parent, all sharing one run id. Spans live in memory and
are written out once, at exit. Every span sets its own Spark job group, so
the jobs a layer call submits are found by group in the JVM status store
(``AppStatusStore``), never by diffing the global stage list: that list is
capped by ``spark.ui.retainedStages`` and diffs of it go negative once old
stages are evicted.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Counter names summed over the stages of a span's jobs.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_ms",
    "gc_ms",
    "input_bytes",
    "input_rows",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Reads job/stage metrics for one job group from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self._sc._jvm
        # AppStatusStore.stageData has default arguments in Scala; py4j
        # sees only the full five-argument signature.
        self._no_status = jvm.java.util.Collections.emptyList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def read(self, group: str) -> dict:
        self.drain()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = self._store.stageData(
                    stage_ids.apply(i), False, self._no_status, False, self._no_quantiles
                )
                for j in range(attempts.size()):
                    s = attempts.apply(j)
                    if str(s.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    out["failed_tasks"] += s.numFailedTasks()
                    out["executor_run_ms"] += s.executorRunTime()
                    out["gc_ms"] += s.jvmGcTime()
                    out["input_bytes"] += s.inputBytes()
                    out["input_rows"] += s.inputRecords()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


@dataclass
class Span:
    run_id: str
    span_id: int
    parent: int | None
    name: str
    start: float
    phase: str = ""
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only yields.

    ``span(name)`` sets a fresh job group for the calls inside it and puts
    the parent's group back on exit, so each job is counted in exactly the
    innermost span that submitted it."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        #: label stored on each new span ("setup" or "measure")
        self.phase = "setup"
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = spark
        self._counters = SparkCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self._spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self.run_id, len(self.spans), parent.span_id if parent else None, name, 0.0, self.phase
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}-{sp.span_id}"
        sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{self.run_id}-{parent.span_id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sp.counters = self._counters.read(group)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        covered, cursor = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return sp.seconds - covered

    def inclusive(self, sp: Span) -> dict:
        """Counters of a span plus those of all its descendants."""
        total = dict(sp.counters)
        for c in self.children(sp):
            for k, v in self.inclusive(c).items():
                total[k] = total.get(k, 0) + v
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = asdict(sp)
                rec["self_s"] = self.self_seconds(sp)
                f.write(json.dumps(rec) + "\n")
