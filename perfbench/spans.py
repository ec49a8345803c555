"""Outside-in tracing for the traced benchmark run.

Spans are recorded by wrapping public functions of the engine's modules from
here (no engine file knows it is traced). Spark counters are read from the
outside too: job ids from the status tracker, per-operator SQL metrics from
the session's SQL status store. Spans live in memory and are written out as
JSON lines when the benchmark ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import threading
import time
from contextlib import contextmanager

# (module, class or None, attribute, span name). Every `validate` reaches the
# runner, audit and fingerprint entries; plan/profile/history only on the
# incremental workload.
TRACE_POINTS = [
    ("unify_spark.plans.runner", "ValidationRunner", "run", "runner.run"),
    ("unify_spark.plans.runner", "ValidationRunner", "run_fused", "runner.run_fused"),
    ("unify_spark.plans.runner", "ValidationRunner", "run_incremental", "runner.run_incremental"),
    ("unify_spark.plans.runner", "ValidationRunner", "profile", "profile.run"),
    ("unify_spark.plans.audit", "AuditLog", "append", "audit.append"),
    ("unify_spark.plans.audit", "AuditLog", "completed_constraints", "audit.read"),
    ("unify_spark.plans.audit", "AuditLog", "part_results", "audit.read"),
    ("unify_spark.plans.audit", "AuditLog", "stage_rows_checked", "audit.read"),
    ("unify_spark.plans.incremental", None, "collect_fingerprints", "incremental.fingerprint"),
    ("unify_spark.plans.incremental", None, "plan_incremental", "incremental.plan"),
    ("unify_spark.plans.history", "MetricsRepository", "append", "history.append"),
]

# the SQL metrics the per-layer figures read; others are not fetched
SQL_METRICS = {"shuffle bytes written", "spill size", "data sent to Python workers",
               "time to run Python workers", "size of files read"}
PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapCoGroupsInPandas", "AggregateInPandas")


class Tracer:
    """In-memory span recorder with install/uninstall of function wrappers.

    A span's parent is the innermost open span of its own thread or, for a
    thread the runner's pool started, the innermost open span of the thread
    that installed the tracer."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.run_id = ""
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._saved: list[tuple] = []
        self._next_id = 0

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = (stack or self._main_stack)[-1:]  # a slice: the main thread may pop meanwhile
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "name": name, "parent": parent[0]["id"] if parent else None,
               "run_id": self.run_id, "start": time.time(), "end": None}
        outer_runner = name.startswith("runner.") and not any(
            s["name"].startswith("runner.") for s in stack)
        if outer_runner:
            rec["_jobs0"] = self._job_ids()
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if outer_runner:
                rec["jobs"] = sorted(self._job_ids() - rec.pop("_jobs0"))
            with self._lock:
                self.spans.append(rec)

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def install(self) -> None:
        for mod_name, cls_name, attr, span_name in TRACE_POINTS:
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, span_name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, sort_keys=True) + "\n")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark counters -------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string → base units (bytes, seconds, count).
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return value


def sql_executions(spark, start: float, end: float) -> list[tuple[float, list]]:
    """Every SQL execution submitted in [start, end] (epoch seconds) as
    (submission time, [(plan node name, {metric: value}), ...])."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    lo, hi = int(start * 1000) - 1, int(end * 1000) + 1
    out = []
    for e in conv.asJava(store.executionsList()):
        if not lo <= e.submissionTime() <= hi:
            continue
        eid = e.executionId()
        values = conv.asJava(store.executionMetrics(eid))
        nodes = []
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in conv.asJava(node.metrics()):
                if m.name() not in SQL_METRICS:
                    continue
                v = values.get(m.accumulatorId())
                if v is not None:
                    metrics[m.name()] = parse_metric(v)
            nodes.append((node.name(), metrics))
        out.append((e.submissionTime() / 1000, nodes))
    return out


def metric_sum(executions: list[list], node_pred, metric: str) -> float:
    """Sum of `metric` over the plan nodes whose name passes `node_pred`."""
    return sum(
        ms.get(metric, 0.0) for nodes in executions for name, ms in nodes if node_pred(name)
    )


def job_counts(spark, job_ids: list[int]) -> tuple[int, int]:
    """(tasks, failed tasks) over the stages of the given jobs."""
    tracker = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return tasks, failed
