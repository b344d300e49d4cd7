"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``Tracer.wrap``
replaces a library function, as seen from the module that calls it,
with a wrapper that records a span around the call — the library's
files are not touched. Each span carries (name, op id, parent span,
start, end); spans stay in memory and are written out once at the end.
Counters gathered at the same boundaries: the Spark jobs and tasks of
each op (one job group per op, read back through ``statusTracker``),
scan metrics of the op's executed plan, and JVM GC time. The tracer
also times its own bookkeeping, which is the tracing overhead it adds
to every op.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self.op_id: str | None = None
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Record a span around every call of ``owner.attr``;
        ``on_call(rec, args, kwargs, result)`` may add counts."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
            if on_call is not None:
                t = time.perf_counter()
                on_call(rec, args, kwargs, result)
                self.overhead_s += time.perf_counter() - t
            return result

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def durations(self, name: str, op_prefix: str | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s
            and (op_prefix is None or (s["op"] or "").startswith(op_prefix))
        ]

    def of(self, name: str, op_prefix: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (op_prefix is None or (s["op"] or "").startswith(op_prefix))
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark-side counters ----------------------------------------------------


def jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def _plan_nodes(node, out: list) -> None:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _plan_nodes(node.executedPlan(), out)
        return
    if name.endswith("QueryStageExec"):
        _plan_nodes(node.plan(), out)
        return
    out.append((name, node))
    children = node.children()
    for i in range(children.size()):
        _plan_nodes(children.apply(i), out)


def _metric(node, key: str) -> int:
    metrics = node.metrics()
    return int(metrics.apply(key).value()) if metrics.contains(key) else 0


def plan_counts(df) -> dict:
    """Scan, unpack and join counts from the executed plan of ``df``
    (valid after an action ran on that same DataFrame)."""
    nodes: list = []
    _plan_nodes(df._jdf.queryExecution().executedPlan(), nodes)
    out = {"files_read": 0, "rows_scanned": 0, "rows_unpacked": 0, "join_rows": 0}
    for name, node in nodes:
        if name == "FileSourceScanExec":
            out["files_read"] += _metric(node, "numFiles")
            out["rows_scanned"] += _metric(node, "numOutputRows")
        elif name == "GenerateExec":
            out["rows_unpacked"] += _metric(node, "numOutputRows")
        elif name == "BroadcastHashJoinExec":
            out["join_rows"] += _metric(node, "numOutputRows")
    return out


def jvm_gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
