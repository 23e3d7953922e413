"""Reads a Spark event log (uncompressed, rolling: ``eventlog_v2_*``
directories of ``events_*`` files) and attributes its metrics to spans
by job tag.

Jobs and SQL executions carry the tags of the spans open when they ran
(``spans.Tracer``). From the log this module takes, per tag:

* job level: jobs, stages, tasks, task run/CPU/GC time, shuffle bytes,
  spill, failed tasks, and the skew of the heaviest stage;
* SQL-plan level: every node of every plan version the execution went
  through (AQE re-plans included) with its metrics summed over tasks and
  driver-side updates, e.g. the ``ArrowEvalPython`` boundary metrics.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from spans import union_length

SQL_UI = "org.apache.spark.sql.execution.ui."


@dataclass
class Task:
    stage: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed: bool


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)


@dataclass
class Execution:
    tags: set[str]
    # keyed by (node name, accumulator ids): AQE re-sends the whole plan
    # on every update, and a cached plan's nodes reappear in later plans
    nodes: dict[tuple, Node] = field(default_factory=dict)




def _node_key(node: dict) -> tuple:
    return (node["nodeName"], tuple(sorted(m["accumulatorId"] for m in node["metrics"])))


class EventLog:
    def __init__(self, root: Path):
        self.job_tags: dict[int, set[str]] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.job_times: dict[int, list[int]] = {}
        self.job_exec: dict[int, int] = {}
        self.tasks: list[Task] = []
        self.executions: dict[int, Execution] = {}
        self.acc: dict[int, int] = defaultdict(int)
        for path in sorted(root.glob("eventlog_v2_*/events_*")):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    # -- parsing ------------------------------------------------------
    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tags = e.get("Properties", {}).get("spark.job.tags", "")
            jid = e["Job ID"]
            self.job_tags[jid] = {t for t in tags.split(",") if t}
            self.job_stages[jid] = list(e["Stage IDs"])
            self.job_times[jid] = [e["Submission Time"], e["Submission Time"]]
            exec_id = e.get("Properties", {}).get("spark.sql.execution.id")
            if exec_id is not None:
                self.job_exec[jid] = int(exec_id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.job_times:
                self.job_times[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind == SQL_UI + "SparkListenerSQLExecutionStart":
            ex = Execution(set(e.get("jobTags") or []))
            self.executions[e["executionId"]] = ex
            self._plan(ex, e["sparkPlanInfo"])
        elif kind == SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                self._plan(ex, e["sparkPlanInfo"])
        elif kind == SQL_UI + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.acc[acc_id] += int(value)

    def _plan(self, ex: Execution, node: dict) -> None:
        stack = [node]
        while stack:
            n = stack.pop()
            if n["metrics"]:
                ex.nodes.setdefault(_node_key(n), Node(
                    n["nodeName"], n["simpleString"],
                    {m["name"]: (m["accumulatorId"], m["metricType"]) for m in n["metrics"]},
                ))
            stack.extend(n["children"])

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        failed = e["Task End Reason"]["Reason"] != "Success"
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        self.tasks.append(Task(
            stage=e["Stage ID"],
            duration_ms=info["Finish Time"] - info["Launch Time"],
            run_ms=m.get("Executor Run Time", 0),
            cpu_ns=m.get("Executor CPU Time", 0),
            gc_ms=m.get("JVM GC Time", 0),
            shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            shuffle_write=sw.get("Shuffle Bytes Written", 0),
            spill=m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
            failed=failed,
        ))
        for a in info.get("Accumulables", []):
            if a.get("Metadata") == "sql" and "Update" in a:
                try:
                    self.acc[a["ID"]] += int(a["Update"])
                except (TypeError, ValueError):  # non-numeric accumulator
                    pass

    # -- queries ------------------------------------------------------
    def jobs_with(self, tag: str) -> list[int]:
        return sorted(j for j, tags in self.job_tags.items() if tag in tags)

    def job_intervals(self, tag: str) -> list[tuple[float, float]]:
        """Wall intervals (epoch seconds) of the jobs carrying ``tag``."""
        return [(self.job_times[j][0] / 1e3, self.job_times[j][1] / 1e3)
                for j in self.jobs_with(tag)]

    def stage_tasks(self, tag: str) -> dict[int, list[Task]]:
        stages = {s for j in self.jobs_with(tag) for s in self.job_stages[j]}
        out: dict[int, list[Task]] = defaultdict(list)
        for t in self.tasks:
            if t.stage in stages:
                out[t.stage].append(t)
        return out

    def write_wall_s(self, tag: str) -> float:
        """Wall time of the jobs under ``tag`` whose SQL execution writes
        files (an ``InsertIntoHadoopFsRelationCommand`` node)."""
        writing = {
            i for i, ex in self.executions.items() if tag in ex.tags
            and any(n.name.startswith("Execute InsertIntoHadoopFsRelation")
                    for n in ex.nodes.values())
        }
        return union_length([
            (self.job_times[j][0] / 1e3, self.job_times[j][1] / 1e3)
            for j in self.jobs_with(tag) if self.job_exec.get(j) in writing
        ])

    def spark_metrics(self, tag: str) -> dict[str, float]:
        jobs = self.jobs_with(tag)
        per_stage = self.stage_tasks(tag)
        tasks = [t for ts in per_stage.values() for t in ts]
        by_stage = {s: [t for t in ts if not t.failed] for s, ts in per_stage.items()}
        by_stage = {s: ts for s, ts in by_stage.items() if ts}
        skew = 1.0
        if by_stage:
            heaviest = max(by_stage.values(), key=lambda ts: sum(t.run_ms for t in ts))
            med = statistics.median(t.duration_ms for t in heaviest)
            skew = max(t.duration_ms for t in heaviest) / med if med > 0 else 1.0
        return {
            "jobs": len(jobs),
            "stages": len(by_stage),
            "tasks": len(tasks),
            "task_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spill_bytes": sum(t.spill for t in tasks),
            "task_skew": skew,
            "tasks_failed": sum(t.failed for t in tasks),
        }

    def nodes(self, tag: str, name_prefix: str) -> list[Node]:
        found = {k: n for ex in self.executions.values() if tag in ex.tags
                 for k, n in ex.nodes.items() if n.name.startswith(name_prefix)}
        return list(found.values())

    def value(self, node: Node, metric: str) -> float:
        """A node metric in base units: seconds for timings, else the
        raw sum (rows, bytes, files)."""
        if metric not in node.metrics:
            return 0.0
        acc_id, kind = node.metrics[metric]
        v = self.acc.get(acc_id, 0)
        if kind == "timing":
            return v / 1e3
        if kind == "nsTiming":
            return v / 1e9
        return float(v)

    def node_sum(self, tag: str, name_prefix: str, metric: str) -> float:
        return sum(self.value(n, metric) for n in self.nodes(tag, name_prefix))
