"""In-memory spans and Spark status-store counters for the traced run.

Spans are recorded by the benchmark around each call it makes into a
layer of the engine (the engine itself is not instrumented). A span has
a name, start, end, parent span and op id; they stay in memory and are
written out once, when the run ends.

Spark's own counters are read from outside through the driver's status
store (``sparkContext._jsc.sc().statusStore()``), which works with the
UI disabled. ``SparkCounters.delta()`` returns what the executors did
since the previous call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``enabled`` is switched per op by the workloads so
    a traced run can interleave traced and untraced ops."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def op(self, op_id: str, kind: str):
        """Root span of one client op; child spans inherit ``op_id``."""
        with self.attach(op_id), self.span("op." + kind):
            yield

    @contextmanager
    def attach(self, op_id: str):
        """Spans opened inside belong to ``op_id`` without being children
        of its root span: work done for an op after its clock stopped."""
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[dict]:
        """Each span with ``self`` = its duration minus the part of its
        interval covered by its children."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                p = s["parent"]
                child_cover[p] = child_cover.get(p, 0.0) + (s["end"] - s["start"])
        out = []
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - child_cover.get(i, 0.0)})
        return out

    def under(self, root: str) -> list[dict[str, float]]:
        """For each top-level span named ``root``, in order, the total
        duration of each span name nested anywhere below it."""
        out: list[dict[str, float]] = []
        owner: dict[int, int] = {}
        # spans are recorded in start order: a parent precedes its children
        for i, s in enumerate(self.spans):
            p = s["parent"]
            if p is None and s["name"] == root:
                owner[i] = len(out)
                out.append({})
            elif p in owner:
                owner[i] = owner[p]
                d = out[owner[i]]
                d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.self_times():
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Executor and stage counters of one SparkContext, as deltas."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._task_status = sc._jvm.java.util.ArrayList()
        self.cores = sc.defaultParallelism
        self._gc_beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._last_exec = self._executors()
        self._seen_stages = self._stage_ids()

    def _drain(self) -> None:
        # status-store updates arrive through the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _executors(self) -> dict:
        tot = dict.fromkeys(
            ("task_ms", "shuffle_read", "shuffle_write", "tasks", "failed"), 0
        )
        # local mode: the driver JVM is the only executor, so its
        # collectors' time is the executors' GC time
        tot["gc_ms"] = sum(b.getCollectionTime() for b in self._gc_beans)
        seq = self._store.executorList(True)
        for i in range(seq.size()):
            e = seq.apply(i)
            tot["task_ms"] += e.totalDuration()
            tot["shuffle_read"] += e.totalShuffleRead()
            tot["shuffle_write"] += e.totalShuffleWrite()
            tot["tasks"] += e.completedTasks()
            tot["failed"] += e.failedTasks()
        return tot

    def _stages(self):
        seq = self._store.stageList(
            None, False, False, self._no_quantiles, self._task_status
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _stage_ids(self) -> set:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def delta(self) -> dict:
        """Counters accumulated since the previous call."""
        self._drain()
        now = self._executors()
        d = {k: now[k] - self._last_exec[k] for k in now}
        self._last_exec = now
        input_records = stages = 0
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            stages += 1
            input_records += s.inputRecords() + s.shuffleReadRecords()
        d["stages"] = stages
        d["records_in"] = input_records
        return d
