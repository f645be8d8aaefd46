"""Per-layer numbers from Spark's own event log (traced runs only).

Jobs are attributed to benchmark operations through the job group the
benchmark sets around each call (``spark.jobGroup.id``) or, for
streaming micro-batches, through ``streaming.sql.batchId``. From the
tasks of those jobs come the ``exec`` numbers (run, CPU and GC time,
bytes read and shuffled) and the ``operators`` numbers (the Python
worker accumulables of ``ArrowEvalPython``, ``FlatMapGroupsInPandas``
and ``applyInPandasWithState`` nodes). From the final physical plan of
each SQL execution come the ``plan`` node counts.
"""

from __future__ import annotations

import json
from pathlib import Path

PYTHON = {
    "time to run Python workers": "operators.python_s",
    "time to start Python workers": "operators.python_boot_s",
    "time to initialize Python workers": "operators.python_init_s",
    "data sent to Python workers": "operators.python_mb_sent",
    "data returned from Python workers": "operators.python_mb_received",
}
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)
WRITES = ("InsertIntoHadoopFsRelationCommand", "WriteFiles")


def load(log_dir: Path) -> list[dict]:
    (f,) = [p for p in log_dir.iterdir() if p.is_file()]
    with open(f) as fh:
        return [json.loads(line) for line in fh]


def _nodes(plan: dict):
    """Plan nodes, not descending into cached relations (their plans
    ran when the cache was filled, not in this execution)."""
    yield plan
    if plan["nodeName"] != "InMemoryTableScan":
        for c in plan["children"]:
            yield from _nodes(c)


def plan_counts(plan: dict) -> dict[str, int]:
    names = [n["nodeName"] for n in _nodes(plan)]
    return {
        "plan.exchanges": sum(n in ("Exchange", "ShuffleExchange") for n in names),
        "plan.python_nodes": sum(n in PYTHON_NODES for n in names),
        "plan.file_scans": sum(n.startswith("Scan ") and "ExistingRDD" not in n for n in names),
        "plan.inmemory_scans": names.count("InMemoryTableScan"),
        "plan.smj": names.count("SortMergeJoin"),
        "plan.bhj": names.count("BroadcastHashJoin"),
        "plan.windows": names.count("Window"),
    }


class Log:
    """Jobs, their tasks' metrics and their executions' final plans."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.plans: dict[int, dict] = {}
        kinds: dict[str, str] = {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "batch": props.get("streaming.sql.batchId"),
                    "exec": props.get("spark.sql.execution.id"),
                    "t0": e["Submission Time"],
                    "t1": e["Submission Time"],
                    "stages": 0,
                    "tasks": [],
                }
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["t1"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                job = stage_job.get(e["Stage Info"]["Stage ID"])
                if job is not None:
                    self.jobs[job]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                job = stage_job.get(e["Stage ID"])
                if job is not None and e.get("Task Metrics"):
                    self.jobs[job]["tasks"].append(e)
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                self.plans[e["executionId"]] = e["sparkPlanInfo"]
                _metric_kinds(e["sparkPlanInfo"], kinds)
        self.kinds = kinds

    def writes(self, job: dict) -> bool:
        plan = self.plans.get(int(job["exec"])) if job["exec"] else None
        return plan is not None and any(w in n["nodeName"] for n in _nodes(plan) for w in WRITES)

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        """exec and operators numbers summed over ``jobs``' tasks."""
        out = dict.fromkeys(
            [
                "exec.task_run_s",
                "exec.task_cpu_s",
                "exec.gc_s",
                "exec.input_mb",
                "exec.shuffle_write_mb",
                "exec.shuffle_read_mb",
                "exec.fetch_wait_s",
                "exec.stages",
                "exec.tasks",
                *PYTHON.values(),
            ],
            0.0,
        )
        for j in jobs:
            out["exec.stages"] += j["stages"]
            out["exec.tasks"] += len(j["tasks"])
            for t in j["tasks"]:
                m = t["Task Metrics"]
                rd = m["Shuffle Read Metrics"]
                out["exec.task_run_s"] += m["Executor Run Time"] / 1e3
                out["exec.task_cpu_s"] += m["Executor CPU Time"] / 1e9
                out["exec.gc_s"] += m["JVM GC Time"] / 1e3
                out["exec.input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20
                out["exec.shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                out["exec.shuffle_read_mb"] += (rd["Local Bytes Read"] + rd["Remote Bytes Read"]) / 2**20
                out["exec.fetch_wait_s"] += rd["Fetch Wait Time"] / 1e3
                for a in t["Task Info"]["Accumulables"]:
                    key = PYTHON.get(a["Name"])
                    if key and "Update" in a:
                        scale = 1e3 if self.kinds.get(a["Name"]) == "timing" else 2**20
                        out[key] += float(a["Update"]) / scale
        return out

    def plan_totals(self, jobs: list[dict]) -> dict[str, int]:
        """Node counts summed over the executions that ran ``jobs``."""
        out = dict.fromkeys(plan_counts({"nodeName": "", "children": []}), 0)
        for ex in {int(j["exec"]) for j in jobs if j["exec"]}:
            for k, v in plan_counts(self.plans[ex]).items():
                out[k] += v
        return out


def _metric_kinds(plan: dict, kinds: dict[str, str]) -> None:
    for m in plan["metrics"]:
        kinds[m["name"]] = m["metricType"]
    for c in plan["children"]:
        _metric_kinds(c, kinds)
