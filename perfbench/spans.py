"""Spans around layer calls, and Spark task metrics attributed to them.

A span records name, start, end and parent. Each span also gets its own
Spark job group, so the task metrics in the event log (which works with
``spark.ui.enabled=false``) can be charged to the span that ran the job:
task time, GC, spill, shuffle bytes, and the SQL metrics of the executed
plans. Spans stay in memory; the benchmark prints them
when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

ROWS_TO_PYTHON = "MapInPandas/input rows"


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{len(self.spans)}",
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def find(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)

    @staticmethod
    def wall(sp: dict) -> float:
        return sp["end"] - sp["start"]

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part its children cover. Children of one
        span run one after another, so their durations add up."""
        kids = [s for s in self.spans if s["parent"] == sp["id"]]
        return self.wall(sp) - sum(self.wall(k) for k in kids)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task seconds, GC seconds, spill bytes, shuffle
    bytes written, and the summed SQL metric updates by metric name (e.g.
    ``MapInPandas/data sent to Python workers``), with the rows fed into
    every ``MapInPandas`` under ROWS_TO_PYTHON. Read after the SparkContext
    has stopped, when the log is complete."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    metric_name: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, sql=defaultdict(float))
    )

    def rows_metric(node: dict) -> int | None:
        """Accumulator of the rows ``node`` outputs: its own "number of
        output rows", or that of the first node below it on a one-child
        chain. The nodes without the metric on the way (codegen wrappers,
        Project, query stages, exchanges, Sort) keep the row count."""
        while True:
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    return m["accumulatorId"]
            kids = node.get("children", [])
            if len(kids) != 1:
                return None
            node = kids[0]

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            metric_name[m["accumulatorId"]] = f"{node['nodeName']}/{m['name']}"
        for child in node.get("children", []):
            plan_metrics(child)
        kids = node.get("children", [])
        if node["nodeName"] == "MapInPandas" and len(kids) == 1:
            acc = rows_metric(kids[0])
            if acc is not None:
                metric_name[acc] = ROWS_TO_PYTHON

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plan_metrics(ev["sparkPlanInfo"])
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = groups[group]
                g["task_s"] += tm["Executor Run Time"] / 1000.0
                g["gc_s"] += tm["JVM GC Time"] / 1000.0
                g["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                g["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = metric_name.get(acc["ID"])
                    # SQL metric updates are logged as numeric strings
                    if name is not None and "Update" in acc:
                        g["sql"][name] += float(acc["Update"])
    return groups
