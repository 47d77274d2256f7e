"""Spans and Spark-side attribution for the traced benchmark run.

Spans are kept in memory and written out once, when the run ends. Each
span has a name, a start, an end, a parent and the ID of the operation it
belongs to. Spark numbers are read from outside the engine after each
operation: the status tracker finds the operation's jobs by job group,
the status store gives job and stage metrics, the final action's
QueryExecution tracker gives Catalyst phase times, and the JVM's
GarbageCollector MXBeans give GC time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = ""

    def attach(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._gcs = list(sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block. With tracing on, record it as a span and run its
        Spark jobs under job group `<op id>/<group>`."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None:
            self._sc.setJobGroup(f"{self.op_id}/{group}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def gc_ms(self) -> int:
        return sum(g.getCollectionTime() for g in self._gcs)

    def drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[dict]:
        """Job and stage metrics of every job run under `<op id>/<group>`."""
        out = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(f"{self.op_id}/{group}"):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": done.get().getTime() if done.isDefined() else None,
                "spark.stages": 0, "spark.tasks": jd.numCompletedTasks(),
                "spark.failed_tasks": jd.numFailedTasks(),
                "spark.executor_run_s": 0.0, "spark.shuffle_write_mb": 0.0,
                "spark.shuffle_read_mb": 0.0, "spark.spill_mb": 0.0,
            }
            sids = jd.stageIds()
            for i in range(sids.length()):
                sd = self._store.lastStageAttempt(sids.apply(i))
                if str(sd.status()) == "SKIPPED":
                    continue
                job["spark.stages"] += 1
                job["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
                job["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                job["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                job["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            out.append(job)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time of `df`'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return total / 1000.0


def busy_s(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [submission, completion] intervals."""
    iv = sorted((j["start_ms"], j["end_ms"]) for j in jobs if j["start_ms"] and j["end_ms"])
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0
