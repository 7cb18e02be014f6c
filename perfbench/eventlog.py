"""Per-label rows from a Spark event log.

The traced run enables the event log (through ``get_spark(extra_conf=…)``)
and tags its actions with job groups. This module folds the log into one
row per label (jobs, stages, task run and CPU time, shuffle and spill
bytes, and the bytes and rows that crossed the JVM↔Python boundary: the
SQL metrics of the Python-evaluated plan nodes), and one row per stage.
"""

from __future__ import annotations

import json
from collections import defaultdict

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "PythonMapInArrow", "MapInArrow", "BatchEvalPython")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_ROWS = "number of output rows"


def _python_accumulators(plan: dict, out: dict) -> None:
    """accumulator id → metric name, for every Python node in ``plan``."""
    if plan.get("nodeName") in PYTHON_NODES:
        for m in plan.get("metrics", []):
            if m["name"] in (PY_SENT, PY_RETURNED, PY_ROWS):
                out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def empty_row() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "python_bytes": 0,
        "python_rows": 0,
    }


def summarize(path: str, labels: dict) -> tuple:
    """``labels`` maps job group ids to labels; jobs of other groups are
    dropped. Returns (label → row, [stage row])."""
    stage_label: dict = {}
    stages: dict = {}  # stage id → stage row
    py_acc: dict = {}  # accumulator id → metric name
    rows: dict = defaultdict(empty_row)
    task_acc: list = []  # (label, accumulator id, update)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                label = labels.get(props.get("spark.jobGroup.id"))
                if label is None:
                    continue
                rows[label]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_label[sid] = label
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_label:
                    rows[stage_label[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev.get("Stage ID"))
                if label is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                if sid not in stages:
                    stages[sid] = {"label": label, "stage": sid, **empty_row()}
                for r in (rows[label], stages[sid]):
                    r["tasks"] += 1
                    r["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if "Update" in acc:
                        task_acc.append((label, acc["ID"], acc["Update"]))
    # plan events may follow the tasks that report into them, so the
    # Python accumulators are matched after the whole log is read
    for label, acc_id, update in task_acc:
        name = py_acc.get(acc_id)
        if name is None:
            continue
        if name == PY_ROWS:
            rows[label]["python_rows"] += int(update)
        else:
            rows[label]["python_bytes"] += int(update)
    for r in stages.values():
        del r["jobs"], r["stages"], r["python_bytes"], r["python_rows"]
    return dict(rows), [stages[s] for s in sorted(stages)]
