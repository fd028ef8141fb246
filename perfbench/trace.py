"""In-memory spans and Spark job-group counters for the traced run.

A span is (name, start, end, parent, op id). The benchmark opens one
around every call it makes into a layer of the program; the layer is the
first dotted component of the span name. Spans stay in memory and are
written out once, when the run ends. A layer's self time is the time its
spans cover minus the part their child spans cover.

With tracing off every method is a no-op, so the untraced run times the
same code path without the bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list = []  # [name, start, end, parent index, op id]
        self.op_id: "int | None" = None
        self.bookkeeping_s = 0.0  # time spent recording, the direct overhead
        self.groups: dict = {}  # op id (job group op<id>) -> op kind
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, t0, None, parent, self.op_id])
        self._stack.append(idx)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx][2] = t1
            self.bookkeeping_s += time.perf_counter() - t1

    def begin_op(self, op_id: int, kind: str) -> None:
        """Tag every Spark job the next call submits with this op's group."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.op_id = op_id
        self.groups[op_id] = kind
        self.spark.sparkContext.setJobGroup(f"op{op_id}", kind)
        self.bookkeeping_s += time.perf_counter() - t0

    def job_counts(self) -> dict:
        """op id -> (kind, jobs, tasks, input records) for every op so far,
        read from Spark's status store. Call after the ops ran: stage
        totals are final only once the listener bus has seen the stage
        complete."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out: dict = {}
        for op_id, kind in self.groups.items():
            jobs = tasks = records = 0
            for job in tracker.getJobIdsForGroup(f"op{op_id}"):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                jobs += 1
                for stage in info.stageIds:
                    attempts = store.stageData(stage, False, no_status, False, no_quantiles)
                    for k in range(attempts.size()):
                        sd = attempts.apply(k)
                        tasks += sd.numCompleteTasks()
                        records += sd.inputRecords()
            out[op_id] = (kind, jobs, tasks, records)
        self.bookkeeping_s += time.perf_counter() - t0
        return out

    def self_times(self) -> dict:
        """layer -> seconds of self time over all its spans."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t1 is None:
                continue
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1, "parent": parent, "op": op}) + "\n")
