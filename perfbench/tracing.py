"""Spans and counters for the traced run, read from outside the program.

Every operation gets a root span with children for DataFrame construction
(``queries.construct`` or ``engine.sql``), ``catalyst.plan`` and
``spark.exec``; outermost ``Engine.sql`` calls made inside construction are
nested spans.  Counters are read at the same boundaries:

- Spark jobs, by diffing ``statusTracker().getJobIdsForGroup(None)`` (job ids
  only grow), so jobs started by helper threads are attributed to the span
  that was open when they started;
- stage, task, shuffle, spill and task time sums over a span's jobs, from
  the status store, which works with the UI off (read after the pass);
- GC and JIT compile time from the JVM's MXBeans;
- cached RDD bytes from ``getRDDStorageInfo``.

Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class SparkCounters:
    """Reads Spark's in-process counters through the py4j gateway."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._jtracker = sc._jsc.sc().statusTracker()
        self._arrays = sc._jvm.java.util.Arrays
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        mf = sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit_bean = mf.getCompilationMXBean()

    def max_job_id(self) -> int:
        # Reduced in the JVM: iterating the id array from Python costs one
        # gateway round trip per job.
        ids = self._jtracker.getJobIdsForGroup(None)
        return self._arrays.stream(ids).max().orElse(-1)

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def jit_s(self) -> float:
        return self._jit_bean.getTotalCompilationTime() / 1000.0

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

    def stage_sums(self, job_ids: range) -> dict[str, float]:
        """Sums over the stages that ran for ``job_ids`` (skipped stages,
        whose shuffle output was reused, are not counted)."""
        # Stage data is filled by the listener bus asynchronously.
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "task_run_s", "task_cpu_s"),
            0.0,
        )
        seen = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted, or skipped and never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["task_run_s"] += st.executorRunTime() / 1000.0
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
        return out


class Tracer:
    """In-memory spans.  A span is a dict with ``op`` (the operation's
    index), ``name``, ``parent``, ``start`` and ``end`` (seconds since the
    tracer was made), plus counters."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._stack: list[dict] = []
        self._op = -1

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        if parent is None:
            self._op += 1
        rec = {"op": self._op, "name": name, "parent": parent}
        job0 = self.counters.max_job_id()
        rec["start"] = self.now()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            rec["jobs"] = range(job0 + 1, self.counters.max_job_id() + 1)
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            r = dict(s)
            r["jobs"] = [r["jobs"].start, r["jobs"].stop]
            rows.append(r)
        with open(path, "w") as fh:
            json.dump(rows, fh)
