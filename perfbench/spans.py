"""Spans around calls into the engine, with Spark's own job and stage
counters attached to each.

A span is one public call (plus the action that consumes its result).  Its
Spark jobs are tagged with a job group of their own, so after the span ends
the jobs, stages, tasks, failed tasks and shuffle bytes it caused are read
back from the status tracker and the application status store.  Nothing is
added inside ``smatchpp_spark``.  Spans stay in memory; ``dump`` writes them
out at the end of a run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("spark_jobs", "spark_stages", "spark_tasks", "failed_tasks",
            "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    child_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.span_id if parent else None,
                  self.run_id, time.perf_counter() - self._t0)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}/{sp.span_id}"
        self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            self._stack.pop()
            own = self._read_counters(group)
            for k, v in own.items():
                sp.counters[k] += v
            if parent is not None:
                parent.child_s += sp.wall_s
                for k, v in sp.counters.items():
                    parent.counters[k] += v
                self._sc.setJobGroup(f"{self.run_id}/{parent.span_id}", parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def _read_counters(self, group: str) -> dict:
        jsc = self._sc._jsc.sc()
        # status events arrive through the listener bus asynchronously;
        # drain it so the last job of the span is counted
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["spark_jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for stage_id in stage_ids:
            attempts = store.stageData(
                stage_id,
                getattr(store, "stageData$default$2")(),
                getattr(store, "stageData$default$3")(),
                getattr(store, "stageData$default$4")(),
                getattr(store, "stageData$default$5")(),
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark_stages"] += 1
                out["spark_tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "run_id": sp.run_id, "span_id": sp.span_id,
                    "parent": sp.parent, "name": sp.name,
                    "start_s": sp.start, "end_s": sp.end,
                    "self_s": sp.self_s, **sp.counters,
                }) + "\n")
