"""In-memory spans around the benchmark's calls into the program's
modules, each tagged with its own Spark job group so its stage counters
can be read back from Spark's status store.

A span records (name, start, end, parent, iteration). Counters are
resolved once the root span of an iteration closes, so the status-store
reads never land inside a parent span's interval. With tracing disabled
``span`` yields and records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_COUNTERS = {
    # StageData accessor -> counter name
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "memoryBytesSpilled": "spill_bytes",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    child_time: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - self.child_time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = 0
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._seen_stages: set[int] = set()
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(id=self._next_id, name=name,
                 parent=parent.id if parent else None,
                 iteration=self.iteration, start=0.0, attrs=dict(attrs))
        self._next_id += 1
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_time += s.dur
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._pending.append(s)
            if parent is None:
                self._resolve()

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    def _resolve(self) -> None:
        """Sum each pending span's stage counters: its job group's jobs ->
        their stages, each stage counted once (a stage a later job reuses
        shows up there as skipped and is attributed to its first span)."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001 — status store lives on the JVM context
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in sorted(self._pending, key=lambda x: x.start):
            c = dict.fromkeys(STAGE_COUNTERS.values(), 0)
            c["stages"] = 0
            for job in sorted(tracker.getJobIdsForGroup(self._group(s))):
                info = tracker.getJobInfo(job)
                for sid in list(info.stageIds) if info else []:
                    if sid in self._seen_stages:
                        continue
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # evicted from the status store
                        continue
                    if st.status().toString() != "COMPLETE":
                        continue
                    self._seen_stages.add(sid)
                    c["stages"] += 1
                    for acc, key in STAGE_COUNTERS.items():
                        c[key] += int(getattr(st, acc)())
            s.counters = c
            self.spans.append(s)
        self._pending = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "iteration": s.iteration, "start": s.start, "end": s.end,
                    "self_s": s.self_time, **s.attrs, **s.counters,
                }) + "\n")
