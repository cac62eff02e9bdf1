"""Spans around layer calls, Spark's event log, and the SQL status store.

Spans live in memory and are written once at the end of a traced run. Each
span also sets the Spark job group to its name, so the event log can charge
every job, stage and task to the span that caused it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

MB = 1e6


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent, "start": start, "end": end})
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent, parent)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover, summed by
        name (children of one parent never overlap: spans open one at a time)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["name"])
            out[s["name"]] += s["end"] - s["start"] - kids
        return dict(out)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                       for s in self.spans], f, indent=1)


# ---------------------------------------------------------------------------
# executed-plan guard (SQL status store, no event log needed)

def _executions(spark):
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [lst.apply(i) for i in range(lst.size())]


def last_execution_id(spark) -> int:
    return max((e.executionId() for e in _executions(spark)), default=-1)


def missing_python_nodes(spark, after_id: int, nodes: tuple[str, ...]) -> list[str]:
    """``nodes`` absent from the final (AQE-updated) physical plans of every
    SQL execution after ``after_id``."""
    plans = [e.physicalPlanDescription() for e in _executions(spark)
             if e.executionId() > after_id]
    return [n for n in nodes if not any(n in p for p in plans)]


# ---------------------------------------------------------------------------
# event log

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """All events of ``app_id`` from its zstd event-log file."""
    import pyarrow as pa

    with pa.CompressedInputStream(
            pa.OSFile(os.path.join(log_dir, f"{app_id}.zstd")), "zstd") as s:
        data = s.read()
    return [json.loads(ln) for ln in data.decode().splitlines() if ln]


class EventLog:
    """Per-job-group task totals and SQL operator metrics from an event log."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        self.driver_updates: dict[str, list] = defaultdict(list)
        acc_meta: dict[int, tuple[str, str, str]] = {}  # id -> node, name, type

        def walk(node):
            for m in node.get("metrics", []):
                acc_meta[m["accumulatorId"]] = (
                    node["nodeName"], m["name"], m["metricType"])
            for c in node.get("children", []):
                walk(c)

        pending = []
        for ev in events:
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                walk(ev["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                self.jobs[group] += 1
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_group[int(exec_id)] = group
                # a stage id seen again belongs to an earlier job whose
                # output this job reuses; its tasks ran for the first one
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                self.stages[stage_group.get(ev["Stage Info"]["Stage ID"], "")] += 1
            elif kind == "SparkListenerTaskEnd":
                self.tasks[stage_group.get(ev["Stage ID"], "")].append(ev)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                pending.append(ev)
        # driver-side metric updates (scan file sizes) can precede the job
        # start that ties their execution to a group
        for ev in pending:
            self.driver_updates[exec_group.get(ev["executionId"], "")].extend(
                ev["accumUpdates"])
        self.acc_meta = acc_meta

    def task_totals(self, group: str) -> dict[str, float]:
        t = defaultdict(float)
        for ev in self.tasks.get(group, []):
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            t["peak_execution_mem_mb"] = max(
                t["peak_execution_mem_mb"], m.get("Peak Execution Memory", 0) / MB)
        return dict(t)

    def sql_metric(self, group: str, node: str, name: str) -> float:
        """Sum of one operator metric (node name prefix) over the group's
        task and driver updates, in seconds for timings, MB for sizes."""
        updates = [(acc.get("ID"), acc.get("Update"))
                   for ev in self.tasks.get(group, [])
                   for acc in (ev.get("Task Info") or {}).get("Accumulables", [])]
        updates += [tuple(u) for u in self.driver_updates.get(group, [])]
        total, unit = 0.0, 1.0
        for acc_id, value in updates:
            meta = self.acc_meta.get(acc_id)
            if meta and meta[0].startswith(node) and meta[1] == name:
                total += float(value or 0)
                unit = {"timing": 1e3, "nsTiming": 1e9,
                        "size": MB}.get(meta[2], 1.0)
        return total / unit
