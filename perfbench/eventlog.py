"""Spark event-log parser: job, stage, task and SQL-metric totals per job group.

The benchmark runs every query phase under its own job group, and Spark
records the group in each job's and stage's properties. This module reads
an uncompressed, non-rolling event log (one JSON event per line) and sums,
per job group:

- ``jobs``, ``stages`` (completed stage attempts) and ``tasks``;
- task metrics: run time, CPU time, GC time, input, output, shuffle read
  and write, spill, and the peak execution memory of any one task;
- SQL metrics by ``(plan node, metric name)``, from task updates and from
  the driver-side updates that writes post (files, bytes, commit time).
"""

from __future__ import annotations

import json
from collections import defaultdict

SQL_PREFIX = "org.apache.spark.sql.execution.ui."


def _new_group() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "task_run_ms": 0,
        "task_cpu_ns": 0,
        "gc_ms": 0,
        "input_bytes": 0,
        "input_records": 0,
        "output_bytes": 0,
        "output_records": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "peak_mem_bytes": 0,
        "sql": defaultdict(int),
    }


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (node name, metric name) over a sparkPlanInfo tree."""
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def parse(lines) -> dict[str, dict]:
    """Totals per job group from an iterable of event-log lines.

    Jobs without a group are collected under the empty string.
    """
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_names: dict[int, tuple[str, str]] = {}  # from the plans: (node, metric)
    task_accums: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    task_accum_names: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            groups[gid]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, gid)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), gid)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            g["task_run_ms"] += tm.get("Executor Run Time", 0)
            g["task_cpu_ns"] += tm.get("Executor CPU Time", 0)
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g["peak_mem_bytes"] = max(g["peak_mem_bytes"], tm.get("Peak Execution Memory", 0))
            inp = tm.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_records"] += inp.get("Records Read", 0)
            outp = tm.get("Output Metrics") or {}
            g["output_bytes"] += outp.get("Bytes Written", 0)
            g["output_records"] += outp.get("Records Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    task_accums[stage_group.get(ev["Stage ID"], "")][acc["ID"]] += int(acc["Update"])
                    task_accum_names[acc["ID"]] = acc.get("Name", "")
        elif kind in (SQL_PREFIX + "SparkListenerSQLExecutionStart",
                      SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], accum_names)
        elif kind == SQL_PREFIX + "SparkListenerDriverAccumUpdates":
            driver_updates.append((ev["executionId"], ev["accumUpdates"]))
    # name task-side SQL updates by their plan node, now that all plans are known
    for gid, accums in task_accums.items():
        for aid, v in accums.items():
            groups[gid]["sql"][accum_names.get(aid, ("", task_accum_names[aid]))] += v
    for eid, updates in driver_updates:
        g = groups[exec_group.get(eid, "")]
        for aid, v in updates:
            if aid in accum_names:
                g["sql"][accum_names[aid]] += int(v)
    return dict(groups)


def parse_file(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def sql_sum(group: dict, metric: str, node_prefix: str = "") -> int:
    """Sum of one SQL metric over the plan nodes whose name starts with ``node_prefix``."""
    return sum(v for (node, name), v in group["sql"].items() if name == metric and node.startswith(node_prefix))
