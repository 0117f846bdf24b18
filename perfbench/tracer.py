"""Spans and Spark counters recorded from the benchmark's own code.

A span wraps one call into a layer's public function.  It carries a
name, start and end (``time.perf_counter`` seconds), its parent span and
the run id.  While a span is open every Spark job the calling thread
starts is tagged with the span's job group, so at the span's end the
counters below are read for exactly that span's own jobs:

* jobs, stages and tasks from ``SparkContext.statusTracker()``;
* shuffle read/write and spill bytes from Spark's status store;
* the peak storage memory of the executors (cached and checkpointed
  blocks).

Catalyst phase times and scan metrics of an executed DataFrame are added
by :meth:`Tracer.annotate_exec`.  Spans stay in memory and are written
once, when the run ends.  The time the tracer itself spends reading
counters, and in work wrapped in :meth:`Tracer.overhead`, is accumulated
in ``own_s`` so the run can report its overhead.

With tracing off :meth:`Tracer.span` yields a throwaway dict and touches
nothing in Spark.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

from py4j.protocol import Py4JError, Py4JJavaError


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.own_s = 0.0
        self.storage_peak_bytes = 0
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        if enabled:
            self._sc = spark.sparkContext
            self._tracker = self._sc.statusTracker()
            self._jsc = self._sc._jsc.sc()

    def _group(self, span: dict) -> str:
        return f"perfbench-{self.run_id}-{span['id']}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self._stack.append(rec)
        self._sc.setJobGroup(self._group(rec), name)
        self.own_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self._count(rec)
            if self._stack:
                self._sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.own_s += time.perf_counter() - t

    @contextlib.contextmanager
    def overhead(self):
        """Work done only because tracing is on (file listings around a
        produce, say): its time counts into ``own_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t

    def _count(self, rec: dict) -> None:
        """Jobs, stages, tasks, shuffle and spill bytes of the span's own
        job group, read once the listener bus has delivered its events."""
        with contextlib.suppress(Py4JError):  # timed out: count what arrived
            self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        jobs = self._tracker.getJobIdsForGroup(self._group(rec))
        stages = tasks = shuffle_read = shuffle_write = spill = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:  # stage skipped (shuffle reused) or evicted
                    continue
                stages += 1
                tasks += sd.numTasks()
                shuffle_read += sd.shuffleReadBytes()
                shuffle_write += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec.update(
            jobs=len(jobs), stages=stages, tasks=tasks,
            shuffle_read_bytes=shuffle_read, shuffle_write_bytes=shuffle_write,
            spill_bytes=spill,
        )
        used = 0
        execs = store.executorList(True).iterator()
        while execs.hasNext():
            used += execs.next().memoryUsed()
        self.storage_peak_bytes = max(self.storage_peak_bytes, used)

    def annotate_exec(self, rec: dict, df, rows_returned: int) -> None:
        """Catalyst phase times of the QueryExecution that ran ``df`` (a
        ``collect`` runs the DataFrame's own QueryExecution) and the scan
        metrics of its executed plan."""
        if not self.enabled:
            return
        t = time.perf_counter()
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases().iterator()
        while phases.hasNext():
            kv = phases.next()
            rec[f"{kv._1()}_ms"] = kv._2().durationMs()
        files = rows = 0
        for node in _plan_nodes(qe.executedPlan()):
            if "Scan" in node.getClass().getSimpleName():
                m = node.metrics()
                if m.contains("numFiles"):
                    files += m.apply("numFiles").value()
                if m.contains("numOutputRows"):
                    rows += m.apply("numOutputRows").value()
        rec.update(files_scanned=files, rows_scanned=rows, rows_returned=rows_returned)
        self.own_s += time.perf_counter() - t

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_time(self.spans)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({**rec, "self_s": own[rec["id"]]}, default=str) + "\n")


def _plan_nodes(plan):
    """Every node of an executed physical plan, descending through AQE's
    adaptive wrapper and query stages."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            children = node.children().iterator()
            while children.hasNext():
                todo.append(children.next())


def self_time(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover
    (children of one span run one after another on the client thread)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    """Every span below the span ``root_id``, from one by-parent map."""
    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(kids.get(root_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def subtree_total(spans: list[dict], span: dict, key: str) -> float:
    """``key`` summed over ``span`` and all its descendants (job counts are
    recorded per span's own job group)."""
    return span.get(key, 0) + sum(d.get(key, 0) for d in descendants(spans, span["id"]))
