"""Spans and engine counters for the traced run.

Spans are recorded from the benchmark's own code around each call into a
``kgforge`` module; the program itself is not instrumented.  Every span
runs its Spark jobs under a job group of its own, so the engine's stage
metrics (read from the status store, which is populated with the UI off)
are attributed to the span and rolled up per module.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

# engine counters per module: name -> (StageData getter, scale to unit)
ENGINE_COUNTERS = {
    "tasks": ("numCompleteTasks", 1),
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
}


@dataclass
class Span:
    name: str
    module: str
    op_id: str
    start: float
    parent: Optional[int]
    sid: int
    group: str
    end: float = 0.0
    engine: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: List[tuple]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder.  Spans nest through a stack; each span's
    Spark jobs carry the job group ``perfbench-<span id>``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self._ids = itertools.count()
        self.missing_stages: List[int] = []

    @contextmanager
    def span(self, name: str, module: str, op_id: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}"
        sp = Span(name, module, op_id, time.perf_counter(), parent, sid, group)
        self.spans.append(sp)
        self._stack.append(sid)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.sid]
        return sp.duration - _covered(kids)

    def collect_engine(self) -> None:
        """Sum the completed stages of each span's jobs into
        ``span.engine``.  A stage shared by two jobs counts once.  Call it
        right after the traced calls: the status store keeps a bounded
        number of stages, and the id of every stage it no longer holds
        is listed in ``missing_stages``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        seen: set = set()
        self.missing_stages = []
        for sp in self.spans:
            sp.engine = {k: 0.0 for k in ENGINE_COUNTERS}
            sp.engine["jobs"] = 0
            for job_id in tracker.getJobIdsForGroup(sp.group):
                sp.engine["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    attempts = _stage_attempts(
                        store, stage_id, no_status, no_quantiles
                    )
                    if attempts is None:
                        self.missing_stages.append(stage_id)
                        continue
                    for data in attempts:
                        for key, (getter, scale) in ENGINE_COUNTERS.items():
                            sp.engine[key] += getattr(data, getter)() * scale

    def module_totals(self) -> Dict[str, Dict[str, float]]:
        """Per module: summed self time (``s``), span count and engine
        counters of its spans."""
        out: Dict[str, Dict[str, float]] = {}
        for sp in self.spans:
            m = out.setdefault(
                sp.module,
                {"s": 0.0, "spans": 0, "jobs": 0,
                 **{k: 0.0 for k in ENGINE_COUNTERS}},
            )
            m["s"] += self.self_time(sp)
            m["spans"] += 1
            for k, v in sp.engine.items():
                m[k] += v
        return out

    def records(self) -> List[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.sid, "parent": s.parent, "op": s.op_id,
                "name": s.name, "module": s.module,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_time(s), 6),
                **{k: v for k, v in s.engine.items()},
            }
            for s in self.spans
        ]


def _stage_attempts(store, stage_id: int, no_status, no_quantiles):
    """The status store's ``StageData`` for every attempt of a stage, or
    None when the store no longer holds the stage."""
    try:
        data = store.stageData(
            stage_id, False, no_status, False, no_quantiles
        )
    except Exception as exc:  # py4j wraps the JVM's NoSuchElementException
        if "NoSuchElementException" in str(exc):
            return None
        raise
    return [data.apply(i) for i in range(data.size())]
