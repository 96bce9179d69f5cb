"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around each call into
a layer of the package: name, start, end and parent, kept in memory and
written when the run ends. Inside a span the Spark job group and
description carry the span's label, so the uncompressed event log
attributes every job, stage, task and SQL metric to it. Planning phases
come from ``QueryPlanningTracker`` and py4j round trips are counted at
the gateway client.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PLAN_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    label: str
    start: float
    parent: int | None
    end: float = 0.0
    py4j: int = 0
    jobs: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled`` off every hook is a no-op, so the
    untraced run executes exactly the code the traced run times."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        if enabled:
            client = self.sc._gateway._gateway_client
            send = client.send_command

            def counting_send(*args, **kwargs):
                self.py4j_calls += 1
                return send(*args, **kwargs)

            client.send_command = counting_send

    @contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.enabled:
            yield None
            return
        label = label or name
        self.sc.setJobGroup(label, label)
        sp = Span(name, label, 0.0, self._stack[-1] if self._stack else None)
        sp.py4j = self.py4j_calls
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j = self.py4j_calls - sp.py4j
            self._stack.pop()
            sp.jobs = list(self.sc.statusTracker().getJobIdsForGroup(label))
            parent = self.spans[self._stack[-1]].label if self._stack else None
            if parent:
                self.sc.setJobGroup(parent, parent)
            else:
                self.sc.setJobGroup("", "")

    def plan_phases(self, dfs) -> dict[str, float]:
        """Milliseconds per planning phase that the frames'
        ``QueryPlanningTracker``s recorded, summed over ``dfs``."""
        total = dict.fromkeys(PLAN_PHASES, 0.0)
        for df in dfs:
            phases = df._jdf.queryExecution().tracker().phases()
            for p in PLAN_PHASES:
                if phases.contains(p):
                    total[p] += phases.apply(p).durationMs()
        return total

    def self_seconds(self, prefix: str = "") -> dict[str, float]:
        """Self time per span name over the spans whose label starts with
        ``prefix``: each span's duration minus the part of it its child
        spans cover."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.seconds
        out = defaultdict(float)
        for i, sp in enumerate(self.spans):
            if sp.label.startswith(prefix):
                out[sp.name] += sp.seconds - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"name": s.name, "label": s.label, "start": s.start, "end": s.end,
                        "parent": s.parent, "py4j": s.py4j, "jobs": s.jobs}
                       for s in self.spans], fh)


# -- event log -----------------------------------------------------------

@dataclass
class LabelStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    leaf_tasks: int = 0
    max_leaf_task_s: float = 0.0
    python_passes: int = 0  # SQL executions whose plan runs mapInPandas
    sql: dict = field(default_factory=lambda: defaultdict(float))


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m.get("metricType", "sum"))
    for c in node.get("children", ()):
        _plan_metrics(c, out)


def _node_key(node: str) -> str:
    """``Scan parquet`` / ``Scan binaryFile`` keep their format word;
    other nodes keep their first word."""
    words = node.split(" ")
    return " ".join(words[:2]) if words[0] == "Scan" else words[0]


def _scale(metric_type: str, v: float) -> float:
    """SQL metric value in seconds / bytes / counts."""
    if metric_type == "timing":
        return v / 1e3
    if metric_type == "nsTiming":
        return v / 1e9
    return v


def read_event_log(path: str) -> dict[str, LabelStats]:
    """Aggregate one uncompressed event log per job group label.

    SQL metrics are keyed ``<node>/<metric>`` (see ``_node_key``);
    task-side and driver-side updates both count."""
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    exec_python: set[int] = set()
    acc_meta: dict[int, tuple] = {}
    stage_leaf: dict[int, bool] = {}
    stats: dict[str, LabelStats] = defaultdict(LabelStats)
    pending: list[tuple] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "").rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                label = props.get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", ()):
                    stage_label[sid] = label
                for si in ev.get("Stage Infos", ()):
                    stage_leaf[si["Stage ID"]] = not si.get("Parent IDs")
                stats[label].jobs += 1
                eid = props.get("spark.sql.execution.id")
                if eid is not None and label:
                    exec_label.setdefault(int(eid), label)
            elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                metas: dict = {}
                _plan_metrics(ev.get("sparkPlanInfo", {}), metas)
                acc_meta.update(metas)
                if "MapInPandas" in json.dumps(ev.get("sparkPlanInfo", {})):
                    exec_python.add(ev["executionId"])
            elif kind == "SparkListenerDriverAccumUpdates":
                for aid, v in ev.get("accumUpdates", ()):
                    pending.append((ev["executionId"], aid, float(v)))
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"], "")
                st = stats[label]
                tm = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                st.tasks += 1
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.run_s += tm.get("Executor Run Time", 0) / 1e3
                st.gc_s += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 1e6
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                st.spill_mb += (tm.get("Memory Bytes Spilled", 0)
                                + tm.get("Disk Bytes Spilled", 0)) / 1e6
                if stage_leaf.get(ev["Stage ID"], False):
                    st.leaf_tasks += 1
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    st.max_leaf_task_s = max(st.max_leaf_task_s, dur)
                for acc in info.get("Accumulables", ()):
                    meta = acc_meta.get(acc.get("ID"))
                    if meta is None:
                        continue
                    try:
                        upd = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    node, name, mtype = meta
                    st.sql[f"{_node_key(node)}/{name}"] += _scale(mtype, upd)
    for eid, label in exec_label.items():
        stats[label].python_passes += eid in exec_python
    for eid, aid, v in pending:
        meta = acc_meta.get(aid)
        label = exec_label.get(eid)
        if meta is None or label is None:
            continue
        node, name, mtype = meta
        stats[label].sql[f"{_node_key(node)}/{name}"] += _scale(mtype, v)
    return dict(stats)


def sum_stats(stats: dict[str, LabelStats], prefix: str) -> LabelStats:
    """Totals over every label that starts with ``prefix``."""
    out = LabelStats()
    for label, st in stats.items():
        if not label.startswith(prefix):
            continue
        for f in ("jobs", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "leaf_tasks", "python_passes"):
            setattr(out, f, getattr(out, f) + getattr(st, f))
        out.max_leaf_task_s = max(out.max_leaf_task_s, st.max_leaf_task_s)
        for k, v in st.sql.items():
            out.sql[k] += v
    return out
