"""Tracing for the traced run: in-memory spans around the calls into
each layer's public functions, and Spark counters per traced call read
from the status store through job groups.

Nothing here runs in the untraced run.
"""

from __future__ import annotations

import gc
import itertools
import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans with name, start, end, parent and trace id, kept in memory
    and written once by `dump`. Thread-safe: each thread keeps its own
    parent stack."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "trace": trace or (parent["trace"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> None:
        """Set each span's ``self_s``: its duration minus the part of it
        that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            dur = s["end"] - s["start"]
            s["self_s"] = dur - union_s(kids.get(s["id"], []), s["start"], s["end"])

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class SparkCounters:
    """Per-call Spark counters. `tagged` runs a call under a fresh job
    group; `stats` then sums the status store's stage records of that
    group's jobs."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._n = itertools.count()

    @contextmanager
    def tagged(self, name: str):
        tag = f"perfbench-{name}-{next(self._n)}"
        self.sc.setJobGroup(tag, name)
        try:
            yield tag
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, tag: str, t0: float, t1: float) -> dict:
        """jobs, stages (run, not skipped), tasks, shuffle write bytes,
        spill bytes, executor run time, output bytes, and ``driver_s``:
        the part of [t0, t1] that no stage's submission-to-completion
        interval covers."""
        drain(self.sc)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(tag)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict(jobs=len(jobs), stages=0, tasks=0, shuffle_bytes=0,
                   spill_bytes=0, task_s=0.0, output_bytes=0)
        spans = []
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store or never submitted
                continue
            if st.status().toString() == "SKIPPED" or not st.submissionTime().isDefined():
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["output_bytes"] += st.outputBytes()
            a = st.submissionTime().get().getTime() / 1000.0
            # A stage the query abandoned (for example a cancelled
            # broadcast) has no completion time.
            b = st.completionTime().get().getTime() / 1000.0 if st.completionTime().isDefined() else t1
            spans.append((a, b))
        out["driver_s"] = (t1 - t0) - union_s(spans, t0, t1)
        return out

    def cached_plans(self) -> int:
        """Entries in the session's CacheManager: plans pinned with
        ``cache()`` / ``persist()`` and not yet unpersisted. Read by
        reflection, since the list is private; unlike the persisted-RDD
        count it does not depend on when the JVM collects garbage."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return field.get(cm).size()


def drain(sc) -> None:
    """Wait until the listener bus has delivered every posted event, so
    the status store holds the final records of the jobs that have
    returned: the store is filled asynchronously."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def retained(spark) -> tuple[int, float]:
    """(cached RDDs, MB of memory plus disk) that the status store's
    ``rddList`` still holds, after a garbage collection on both sides
    lets Spark's ContextCleaner drop RDDs nothing references any more."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    drain(spark.sparkContext)
    rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    n, used = rdds.size(), 0
    for i in range(n):
        r = rdds.apply(i)
        used += r.memoryUsed() + r.diskUsed()
    return n, used / 1e6
