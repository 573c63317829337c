"""Per-call spans and the Spark work done inside them.

A span is the wall-clock window of one serial call into a library
layer. Spark jobs are attributed to a span by their submission time, not
by job group, so jobs submitted from driver thread pools (which do not
inherit Spark's local properties) are still counted. Job and stage
metrics come from Spark's own status store, read after the call.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<layer>.<op>"
    t0: float  # epoch seconds, the clock Spark stamps jobs with
    t1: float = 0.0
    extra: dict = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    complete: float
    stage_ids: list


class Tracer:
    """Records spans and reads the jobs that ran inside them."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last_job = -1
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.time())
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self.spans.append(sp)

    def _new_jobs(self) -> list[Job]:
        # the status store is fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = []
        # newest first: stop at the first job an earlier read already saw
        for j in self._conv.asJava(store.jobsList(None)):
            jid = j.jobId()
            if jid <= self._last_job:
                break
            sub, comp = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            s = sub.get().getTime() / 1000.0
            c = comp.get().getTime() / 1000.0 if comp.isDefined() else s
            jobs.append(Job(jid, s, c, list(self._conv.asJava(j.stageIds()))))
        if jobs:
            self._last_job = max(j.job_id for j in jobs)
        return jobs

    def _stage_totals(self, stage_ids) -> dict:
        store = self._jsc.statusStore()
        tot = dict(tasks=0, exec_run_s=0.0, exec_cpu_s=0.0, gc_s=0.0,
                   shuffle_mb=0.0, spill_mb=0.0)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["exec_run_s"] += st.executorRunTime() / 1e3
            tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_mb"] += (st.shuffleReadBytes()
                                  + st.shuffleWriteBytes()) / 1e6
            tot["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 1e6
        return tot

    def drain(self) -> list:
        """``(span name, measures)`` of every span recorded since the
        last drain. Call between timed calls, never inside one."""
        jobs = self._new_jobs()
        out = []
        for sp in self.spans:
            # Spark stamps submission in whole milliseconds
            mine = [j for j in jobs if sp.t0 - 1e-3 <= j.submit <= sp.t1]
            stages = sorted({s for j in mine for s in j.stage_ids})
            m = dict(s=sp.t1 - sp.t0, jobs=len(mine))
            m.update(self._stage_totals(stages))
            m["driver_s"] = max(0.0, m["s"] - _covered(mine, sp.t0, sp.t1))
            m.update(sp.extra)
            out.append((sp.name, m))
        self.spans = []
        return out


def _covered(jobs, t0: float, t1: float) -> float:
    """Length of the union of the jobs' run intervals inside [t0, t1]."""
    iv = sorted((max(j.submit, t0), min(j.complete, t1)) for j in jobs)
    total, end = 0.0, t0
    for a, b in iv:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total
