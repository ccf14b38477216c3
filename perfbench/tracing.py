"""Spans and Spark-side counters, measured from outside the package.

Spans are kept in memory and written out at the end of a run. Job,
stage and task counters come from Spark's status store, keyed by the job
group each span runs under; SQL metrics come from the executed plan of
the op's final DataFrame.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name, op=None):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_time(self):
        """Each span plus ``self_s``: its duration minus the union of the
        intervals its children cover."""
        kids = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            dur = s["end"] - s["start"]
            out.append(dict(s, dur_s=dur, self_s=dur - covered))
        return out


def set_group(sc, group):
    sc.setJobGroup(group, group)


def clear_group(sc):
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def status_by_group(sc):
    """{job group: counters} over every job the status store kept."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = {}
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, empty, None)):
        if st.status().toString() != "COMPLETE":
            continue
        stages.setdefault(st.stageId(), []).append(st)
    out = {}
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if not g.isDefined():
            continue
        acc = out.setdefault(g.get(), {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "input_mb": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "_seen": set(),
        })
        acc["jobs"] += 1
        for sid in _seq(job.stageIds()):
            if sid in acc["_seen"]:
                continue
            acc["_seen"].add(sid)
            for st in stages.get(sid, []):
                acc["stages"] += 1
                acc["tasks"] += st.numCompleteTasks()
                acc["executor_run_s"] += st.executorRunTime() / 1e3
                acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
                acc["input_mb"] += st.inputBytes() / 1e6
                acc["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                acc["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                acc["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
    for acc in out.values():
        del acc["_seen"]
    return out


def _metric(node, key):
    m = node.metrics().get(key)
    return m.get().value() if m.isDefined() else 0


def plan_metrics(df, refine_udf=None):
    """SQL metrics of the executed plan behind ``df`` (call after its action).

    Returns scan rows, ArrowEvalPython time/boot/bytes/rows, and the rows
    the ``refine_udf`` predicate evaluated (when named)."""
    out = {"scan_rows": 0, "python_ms": 0, "python_boot_ms": 0,
           "arrow_sent_bytes": 0, "udf_rows": 0, "refine_rows": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in cls:
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if name.startswith("Scan "):
            out["scan_rows"] += _metric(node, "numOutputRows")
        elif name == "ArrowEvalPython":
            out["python_ms"] += _metric(node, "pythonTotalTime")
            out["python_boot_ms"] += (_metric(node, "pythonBootTime")
                                      + _metric(node, "pythonInitTime"))
            out["arrow_sent_bytes"] += _metric(node, "pythonDataSent")
            rows = _metric(node, "pythonNumRowsReceived")
            out["udf_rows"] += rows
            udfs = node.udfs()
            if refine_udf and any(udfs.apply(i).name() == refine_udf
                                  for i in range(udfs.size())):
                out["refine_rows"] += rows
        todo.extend(_seq(node.children()))
    return out
