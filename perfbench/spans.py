"""Traced mode: spans around the calls into each layer, Spark's own
counters read from outside the program.

* A span records name, start, end and parent. Each operation is a
  root span; its children are the layer call (build) and the ``noop``
  action.
* Each span sets the Spark job group ``workload:op:span``, so the
  status tracker attributes jobs, stages and tasks to it.
* A ``QueryExecutionListener`` (a py4j callback) sees every plan the
  operation executes, eager build-time jobs included. It reads the
  Catalyst tracker's phase times and walks the AQE final plan for SQL
  metrics.
* Spans stay in memory; ``dump`` writes them out once at the end.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")
JOIN_NODES = ("Join", "NestedLoop", "CartesianProduct")
PYTHON_NODES = ("Python", "Pandas", "Arrow")


def walk_plan(node, out: Counter) -> None:
    """Fold one executed plan's SQL metrics into ``out``."""
    cls = node.getClass().getSimpleName()
    if cls == "ReusedExchangeExec":
        return  # its exchange ran, and was counted, elsewhere
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = int(kv._2().value())
    if cls == "ShuffleExchangeExec":
        out["exchanges"] += 1
        out["shuffle_bytes"] += metrics.get("shuffleBytesWritten", 0)
    elif cls == "BroadcastExchangeExec":
        out["broadcasts"] += 1
    elif cls in ("FileSourceScanExec", "BatchScanExec"):
        out["scan_bytes"] += metrics.get("filesSize", 0)
    if any(s in cls for s in JOIN_NODES):
        out["join_rows_out"] += metrics.get("numOutputRows", 0)
    if any(s in cls for s in PYTHON_NODES):
        out["python_rows"] += metrics.get("numOutputRows", 0)
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids, it = [], node.children().iterator()
        while it.hasNext():
            kids.append(it.next())
    for k in kids:
        walk_plan(k, out)


class _Listener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java name)
        self.tracer._on_plan(qe)

    def onFailure(self, func, qe, exc):  # noqa: N802
        self.tracer._on_plan(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, workload: str):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark, self.sc, self.workload = spark, spark.sparkContext, workload
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._plans: Counter | None = None  # counters of the open op
        self.current_op = ""
        self.errors: list[str] = []
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _Listener(self)
        self._jlisteners = spark._jsparkSession.listenerManager()
        self._jlisteners.register(self._listener)
        self.tracer_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- listener side ---------------------------------------------------
    def _on_plan(self, qe) -> None:
        plans = self._plans
        if plans is None:
            return
        try:
            ph = qe.tracker().phases()
            for p in PHASES:
                if ph.contains(p):
                    plans[f"{p}_ms"] += ph.get(p).get().durationMs()
            plans["plans"] += 1
            walk_plan(qe.executedPlan(), plans)
        except Exception as e:  # noqa: BLE001 — a listener must not kill the bus
            self.errors.append(repr(e))

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: str = "", **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.workload}:{op or name}:{name}:{sid}"
        rec = {"id": sid, "name": name, "op": op, "parent": parent,
               "group": group, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["group"] if self._stack else "untraced"
            self.sc.setJobGroup(outer, "")

    @contextmanager
    def op(self, name: str, layer: str):
        t0 = time.perf_counter()
        self._drain()  # plans of earlier checks belong to no op
        self._plans = Counter()
        self.current_op = name
        self.tracer_s += time.perf_counter() - t0
        with self.span("op", op=name, layer=layer) as root:
            yield root
            t1 = time.perf_counter()
            self._drain()
            root["plans"] = dict(self._plans)
            self._plans = None
            root["exec"] = self._job_counts(root["id"])
            self.ops.append(root)
            self.tracer_s += time.perf_counter() - t1

    def _job_counts(self, root_id: int) -> dict:
        """Jobs, stages and tasks of every span under ``root_id``."""
        st = self.sc.statusTracker()
        out = Counter()
        for rec in self.spans[root_id:]:
            jobs = st.getJobIdsForGroup(rec["group"])
            rec["jobs"] = len(jobs)
            out["jobs"] += len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                if info.status == "FAILED":
                    out["failed_jobs"] += 1
                for s in info.stageIds:
                    si = st.getStageInfo(s)
                    if si is None or si.numCompletedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += si.numCompletedTasks
                    out["failed_tasks"] += si.numFailedTasks
                    out["single_task_stages"] += si.numTasks == 1
        return dict(out)

    def close(self) -> None:
        self._jlisteners.unregister(self._listener)

    # -- output ----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its children cover, per name."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = Counter()
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": spans,
                       "self_s": self.self_times(), "listener_errors": self.errors,
                       **extra}, fh, indent=1, default=str)
