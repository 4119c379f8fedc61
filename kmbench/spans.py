"""Spans and Spark counters, recorded from outside the program.

``Tracer`` keeps spans (name, start, end, parent) in memory; the worker
writes them out once, when the run ends. ``SparkCounters`` reads Spark's own
job/stage bookkeeping for the jobs launched inside one job group: the group is
set around a call into the program, then the jobs it launched are looked up in
``statusTracker`` and their stages in ``sc._jsc.sc().statusStore()``, which is
populated with the UI off.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


@dataclass
class Counters:
    """Spark's account of the jobs one call launched."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    covered_s: float = 0.0  # union of the jobs' [submit, complete] intervals
    map_stage_s: float = 0.0  # stages that read no shuffle: scan, assign, partial agg
    reduce_stage_s: float = 0.0  # stages that read shuffle: final agg (mean)
    intervals: list = field(default_factory=list, repr=False)


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._groups = itertools.count()

    @contextmanager
    def group(self, label: str):
        """Run the body in a fresh job group; yields the group id."""
        gid = f"kmbench-{next(self._groups)}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_count(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def read(self, gid: str) -> Counters:
        """Counters for every job of ``gid``; waits for the listener bus so
        the status store has the finished stages."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        c = Counters()
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = store.job(jid)
            c.jobs += 1
            js, je = _ms(job.submissionTime()), _ms(job.completionTime())
            if js is not None and je is not None:
                c.intervals.append((js, je))
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    st = store.lastStageAttempt(it.next())
                except Py4JJavaError:
                    continue  # stage never attempted
                if st.status().toString() == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += st.numTasks()
                c.failed_tasks += st.numFailedTasks()
                c.executor_run_s += st.executorRunTime() / 1000.0
                c.executor_cpu_s += st.executorCpuTime() / 1e9
                c.shuffle_read_bytes += st.shuffleReadBytes()
                c.shuffle_write_bytes += st.shuffleWriteBytes()
                c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c.input_bytes += st.inputBytes()
                c.input_rows += st.inputRecords()
                ss, se = _ms(st.submissionTime()), _ms(st.completionTime())
                if ss is not None and se is not None:
                    dur = (se - ss) / 1000.0
                    if st.shuffleReadBytes() > 0 or st.shuffleReadRecords() > 0:
                        c.reduce_stage_s += dur
                    else:
                        c.map_stage_s += dur
        c.covered_s = _union_s(c.intervals)
        return c


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan of ``df``; returns the wall time and Catalyst's
    own per-phase durations (seconds) from ``queryExecution().tracker()``."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    out = {"plan_s": time.perf_counter() - t0}
    phases = qe.tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"{name}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
