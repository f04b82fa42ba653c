"""Per-call Spark counters and spans, read from outside the program.

``Tracer.layer(name)`` wraps one call into a layer's public function. With
tracing on it sets a Spark job group around the call and, after the call,
reads the jobs and stages of that call from the driver's status store
(``sc._jsc.sc().statusStore()``, which is populated with
``spark.ui.enabled=false``). Jobs started by threads the program spawns
carry no group, so ungrouped jobs that appeared during the call are
attributed to it too; the benchmark drives one call at a time, so nothing
else can have started them.

With tracing off the same context manager only times the call, so the
untraced run does no extra Spark work. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# the counters every Spark-backed layer reports, with their units
SPARK_UNITS = {"wall_s": "s", "driver_s": "s", "stages": "count",
               "tasks": "count", "executor_s": "s",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
               "exec_memory_bytes": "bytes", "rows_out": "count"}

_RAN = ("COMPLETE", "FAILED")


def covered_seconds(intervals: list[tuple[float, float]], lo: float,
                    hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _seq(scala_seq) -> list:
    """A Scala Seq reached through py4j, as a Python list."""
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _stage_attempts(sc, sid: int) -> list:
    """Every attempt of stage ``sid`` from the status store."""
    jvm = sc._jvm
    return _seq(sc._jsc.sc().statusStore().stageData(
        sid, False, jvm.java.util.ArrayList(), False,
        sc._gateway.new_array(jvm.double, 0)))


def last_job_id(sc) -> int:
    """Id of the newest job of the context (-1 before the first)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return max((int(j.jobId()) for j in _seq(
        sc._jsc.sc().statusStore().jobsList(None))), default=-1)


def exec_memory_bytes(sc, after_job: int) -> int:
    """Spark execution memory of the jobs newer than ``after_job``: the sum
    over their tasks of each task's peak (``peakExecutionMemory``), each
    stage counted once."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    seen, total = set(), 0
    for job in _seq(sc._jsc.sc().statusStore().jobsList(None)):
        if int(job.jobId()) <= after_job:
            continue
        for sid in set(map(int, _seq(job.stageIds()))) - seen:
            seen.add(sid)
            total += sum(int(a.peakExecutionMemory())
                         for a in _stage_attempts(sc, sid))
    return total


class Tracer:
    """Spans and per-call Spark counters for one benchmark run."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside the tracer's own calls
        self._open: list[int] = []
        self._next_id = 0
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        if enabled:
            self._seen_jobs = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _read_counters(self, group: str, t0: float, t1: float) -> dict:
        jsc = self.sc._jsc.sc()
        # status updates arrive through the async listener bus: wait until
        # every event of the finished call has been applied to the store
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= ungrouped
        jobs = sorted(set(tracker.getJobIdsForGroup(group)) | ungrouped)

        rec = dict.fromkeys(SPARK_UNITS, 0)
        rec.update(jobs=len(jobs), planned_stages=0, skipped_stages=0,
                   failed_tasks=0, shuffle_read_bytes=0)
        job_spans = []
        executor_ms = 0
        for jid in jobs:
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                job_spans.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            for sid in map(int, _seq(jd.stageIds())):
                rec["planned_stages"] += 1
                attempts = _stage_attempts(self.sc, sid)
                ran = any(a.status().toString() in _RAN for a in attempts)
                # a stage another job of this run already executed is reused
                # from its shuffle files: Spark skips it here
                if not ran or sid in self._seen_stages:
                    rec["skipped_stages"] += 1
                    continue
                self._seen_stages.add(sid)
                rec["stages"] += 1
                for a in attempts:
                    rec["tasks"] += int(a.numCompleteTasks())
                    rec["failed_tasks"] += int(a.numFailedTasks())
                    executor_ms += int(a.executorRunTime())
                    rec["shuffle_write_bytes"] += int(a.shuffleWriteBytes())
                    rec["shuffle_read_bytes"] += int(a.shuffleReadBytes())
                    rec["spill_bytes"] += int(a.diskBytesSpilled())
                    rec["exec_memory_bytes"] += int(a.peakExecutionMemory())
                    rec["rows_out"] += int(a.outputRecords())
        rec["executor_s"] = executor_ms / 1e3
        rec["driver_s"] = max(0.0, (t1 - t0) - covered_seconds(job_spans, t0, t1))
        rec["skipped_stage_ratio"] = (
            rec["skipped_stages"] / rec["planned_stages"]
            if rec["planned_stages"] else 0.0)
        return rec

    @contextmanager
    def layer(self, name: str, spark_counters: bool = True):
        """Time one call and, when tracing, count its Spark work. Yields the
        span record; the caller may add layer-specific values to it (a
        ``rows_out`` it sets replaces the written-records count). Layers
        with Spark counters must not nest: a job group is per thread."""
        self._next_id += 1
        rec: dict = {"name": name, "id": self._next_id,
                     "parent": self._open[-1] if self._open else None}
        count = self.enabled and spark_counters
        group = f"perfbench-{rec['id']}-{name}"
        if count:
            c0 = time.perf_counter()
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - c0
        self._open.append(rec["id"])
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - p0
            t1 = time.time()
            self._open.pop()
            rec.update(start=t0, end=t1, wall_s=wall)
            if count:
                c0 = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                counters = self._read_counters(group, t0, t1)
                counters["wall_s"] = wall
                counters.update({k: rec[k] for k in ("rows_out",) if k in rec})
                rec.update(counters)
                self.overhead_s += time.perf_counter() - c0
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        """Write the spans out (called once, when the run ends)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s},
                      f, indent=1, default=str)
