"""Benchmark-side tracing: spans and per-request counters recorded around
the calls into each engine layer, from the benchmark's own wrappers.

Nothing here is imported by the engine. The wrappers patch single
*instances* (the store, executor, cache and compactor that one benchmark
run wires) plus ``server.rest.s3_xml_listing``, so the untraced run
executes the engine unchanged. Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span log plus per-request counter records.

    A span is ``(name, start_s, end_s, span_id, parent_id, request_id)``.
    Spans of one server request share the request id the proxy executor
    assigns; ``enabled`` switches recording on and off without removing
    the wrappers, so one run can time untraced and traced slices.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self.requests: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- request context ------------------------------------------------

    @property
    def request_id(self) -> int | None:
        return getattr(self._local, "request_id", None)

    @contextmanager
    def request(self):
        rid = next(self._ids)
        self._local.request_id = rid
        try:
            yield rid
        finally:
            self._local.request_id = None

    def add(self, field: str, value: float) -> None:
        """Add ``value`` to counter ``field`` of the current request."""
        rid = self.request_id
        if self.enabled and rid is not None:
            with self._lock:
                self.requests[rid][field] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name].append(value)

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((name, t0, t1, sid, parent, self.request_id))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, t0, t1, sid, parent, rid in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1, "id": sid,
                                    "parent": parent, "request": rid}) + "\n")


def wrap_method(obj, name: str, wrapper) -> None:
    """Replace bound method ``obj.name`` with ``wrapper(original, *a, **kw)``
    on this instance only."""
    original = getattr(obj, name)
    setattr(obj, name, lambda *a, **kw: wrapper(original, *a, **kw))


# -- Spark plan and status readers ----------------------------------------

#: SQL metrics read per node class; every read is a py4j round trip, so
#: only these are fetched
_PLAN_METRICS = {
    "FileSourceScanExec": ("numFiles", "filesSize", "numOutputRows"),
    "InMemoryTableScanExec": ("numOutputRows",),
    "ShuffleExchangeExec": ("shuffleBytesWritten", "shuffleRecordsWritten"),
    "FilterExec": ("numOutputRows",),
}
_TRANSPARENT = ("InputAdapter", "WholeStageCodegenExec", "ProjectExec")


def plan_nodes(plan) -> list[tuple[str, object]]:
    """``(class name, node)`` for every physical node of an executed plan
    in depth-first pre-order, looking through adaptive query stages."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append((cls, node))
        kids = node.children()
        todo.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def plan_counters(df) -> dict[str, float]:
    """Per-operator SQL metrics of a collected DataFrame's executed plan:
    parquet scan files/bytes/rows, in-memory scan rows, shuffle bytes and
    records, and the rows leaving the filter directly above the dedup
    window (the merge's output)."""
    c: dict[str, float] = defaultdict(float)
    last_filter = None
    for cls, node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if cls == "WindowExec" and last_filter is not None:
            c["window_out"] += last_filter.longMetric("numOutputRows").value()
        if cls == "FilterExec":
            last_filter = node
        elif cls not in _TRANSPARENT:
            last_filter = None
        if cls == "FilterExec" or cls not in _PLAN_METRICS:
            continue
        m = {k: node.longMetric(k).value() for k in _PLAN_METRICS[cls]}
        if cls == "FileSourceScanExec":
            c["files"] += m["numFiles"]
            c["bytes"] += m["filesSize"]
            c["scan_rows"] += m["numOutputRows"]
        elif cls == "InMemoryTableScanExec":
            c["mem_rows"] += m["numOutputRows"]
        else:
            c["shuffle_bytes"] += m["shuffleBytesWritten"]
            c["shuffle_records"] += m["shuffleRecordsWritten"]
    return c


def stage_counters(spark, job_ids) -> dict[str, float]:
    """Jobs and tasks of the given jobs, and the executor run time of their
    shuffle-reading (dedup window) stages, read from Spark's status store
    (no UI needed)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    c = defaultdict(float)
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        c["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- a skipped stage has no attempt
                continue
            c["tasks"] += sd.numTasks()
            if sd.shuffleReadRecords() > 0:
                c["window_task_ms"] += sd.executorRunTime()
    return c
