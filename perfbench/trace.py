"""Spans, layer tagging and the Spark event-log reader of traced runs.

A traced run wraps each layer call in ``setJobGroup(<layer>, ...)`` and
in a span; the spans stay in memory and are written out at the end.
After the session stops, the uncompressed event log is read back and
every task is attributed to a layer through the ``spark.jobGroup.id``
property of the job that ran its stage.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SQL metrics (task accumulables) summed per layer, by their Spark name
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"          # milliseconds
_SQL_SUMS = (PY_SENT, PY_RETURNED, PY_RUN)
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")
_OBSERVE = re.compile(r"CollectMetrics (\w+)")
_EXCHANGES = ("Exchange", "BroadcastExchange")


def _nodes(plan: dict):
    """Every node of a sparkPlanInfo tree, except the subtree under a
    ReusedExchange: that exchange is the one run elsewhere in the plan."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        if node.get("nodeName") != "ReusedExchange":
            todo.extend(node.get("children") or [])


def _observations(plan: dict) -> set:
    """Names of the ``observe`` (CollectMetrics) nodes in a sparkPlanInfo tree."""
    return {name for n in _nodes(plan) if n.get("nodeName") == "CollectMetrics"
            for name in _OBSERVE.findall(n.get("simpleString", ""))}


def exchanges(plan: dict) -> int:
    """Shuffle and broadcast exchanges in a sparkPlanInfo tree; a reused
    exchange is not counted again."""
    return sum(1 for n in _nodes(plan) if n.get("nodeName") in _EXCHANGES)


EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    # the default is zstd-compressed rolling eventlog_v2_* directories,
    # which cannot be read back without a zstd module
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str, spark=None):
        """Time a block; with ``spark``, also run its jobs in job group
        ``name`` and restore the enclosing span's group after."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent.name if parent else None)
        self._stack.append(s)
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self._stack[-1].name, self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self_times(self.spans), **extra},
                      f, indent=1, sort_keys=True)


def _covered(spans, outer: Span) -> float:
    """Length of the union of ``spans``' intervals, clipped to ``outer``."""
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(c.start, outer.start), min(c.end, outer.end)) for c in spans):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_times(spans) -> dict:
    """Span duration minus the time covered by its direct children
    (overlapping children are counted once)."""
    return {s.name: s.duration - _covered([c for c in spans if c.parent == s.name], s)
            for s in spans}


def coverage(spans, root: str, children) -> float:
    """Share of the root span's duration covered by the named children."""
    r = next(s for s in spans if s.name == root)
    kids = [s for s in spans if s.name in children and s.parent == root]
    return _covered(kids, r) / r.duration if r.duration > 0 else 0.0


@dataclass
class LayerStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_run_ms: int = 0
    stage_max_ms: int = 0        # Σ over stages of the slowest task
    stage_median_ms: float = 0   # Σ over stages of the median task
    exchanges: int = 0           # in the final plans of the group's SQL executions
    observations: set = field(default_factory=set)   # CollectMetrics names

    @property
    def task_skew(self) -> float:
        return self.stage_max_ms / self.stage_median_ms if self.stage_median_ms else 0.0


def eventlog_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1 or os.path.isdir(os.path.join(log_dir, files[0])):
        raise RuntimeError(f"expected one uncompressed event log in {log_dir}: {files}")
    if files[0].endswith(".inprogress"):
        raise RuntimeError("event log still in progress; stop the session first")
    return os.path.join(log_dir, files[0])


def parse_eventlog(path: str) -> dict:
    """{job group: LayerStats} over every successful task in the log.

    Jobs without a group are reported under ``""``. A SQL execution
    belongs to the group of its jobs; its exchanges are counted in the
    last plan the log holds for it, the one adaptive execution ran.
    """
    stage_group: dict[int, str] = {}
    stats: dict[str, LayerStats] = {}
    stage_tasks: dict[int, list] = {}
    sql_obs: dict[int, set] = {}         # SQL execution id -> observations
    sql_plan: dict[int, dict] = {}       # SQL execution id -> last plan
    sql_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in _SQL_PLAN_EVENTS:
                plan = ev.get("sparkPlanInfo") or {}
                sql_obs.setdefault(ev["executionId"], set()).update(_observations(plan))
                sql_plan[ev["executionId"]] = plan
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                stats.setdefault(g, LayerStats()).jobs += 1
                if props.get("spark.sql.execution.id") is not None:
                    sql_group[int(props["spark.sql.execution.id"])] = g
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    continue
                sid = ev["Stage ID"]
                st = stats.setdefault(stage_group.get(sid, ""), LayerStats())
                m = ev.get("Task Metrics") or {}
                run = int(m.get("Executor Run Time", 0))
                st.tasks += 1
                st.task_ms += run
                st.gc_ms += int(m.get("JVM GC Time", 0))
                st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) \
                    + int(m.get("Disk Bytes Spilled", 0))
                st.shuffle_write_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                st.output_bytes += int(
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in _SQL_SUMS:
                        v = int(acc.get("Update") or 0)
                        if name == PY_SENT:
                            st.py_sent_bytes += v
                        elif name == PY_RETURNED:
                            st.py_returned_bytes += v
                        else:
                            st.py_run_ms += v
                stage_tasks.setdefault(sid, []).append(run)
    for sid, runs in stage_tasks.items():
        st = stats[stage_group.get(sid, "")]
        st.stages += 1
        st.stage_max_ms += max(runs)
        st.stage_median_ms += statistics.median(runs)
    for eid, g in sql_group.items():
        stats[g].observations |= sql_obs.get(eid, set())
        stats[g].exchanges += exchanges(sql_plan.get(eid, {}))
    return stats


def merge(stats: dict, pred) -> LayerStats:
    """Sum the LayerStats of every group whose name satisfies ``pred``."""
    out = LayerStats()
    for g, st in stats.items():
        if pred(g):
            for k in out.__dataclass_fields__:
                a, b = getattr(out, k), getattr(st, k)
                setattr(out, k, a | b if isinstance(a, set) else a + b)
    return out
