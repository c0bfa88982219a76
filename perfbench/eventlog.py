"""Fold a Spark event log into one record per job group.

Tracing runs write Spark's local event log (uncompressed, not rolled).
Each job, stage and task is charged to the ``spark.jobGroup.id`` that
was set when its job was submitted; work outside any group lands under
``UNGROUPED``. Besides task metrics the record counts

- ``source_scans`` / ``source_tasks``: stages (and their tasks) that
  scan the ``confluence_pages`` Python data source;
- ``udf_rows``: rows produced by ``ArrowEvalPython`` plan nodes, i.e.
  rows that went through a pandas UDF. Plan nodes are matched to task
  accumulators through the SQL execution (and adaptive re-plan) events.

    python3 perfbench/eventlog.py <event-log-file>   # prints the fold as JSON
"""

from __future__ import annotations

import json
import sys
from collections.abc import Iterable

UNGROUPED = "(none)"
SOURCE_SCAN = "BatchScan confluence_pages"
UDF_NODE = "ArrowEvalPython"
FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "scheduler_delay_s",
    "source_scans",
    "source_tasks",
    "udf_rows",
)
#: the task-level execution totals reported as ``exec.*`` metrics
EXEC_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "scheduler_delay_s",
    "failed_tasks",
)


def _group(event: dict) -> str:
    return (event.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED


def _index_plan(node: dict, acc_node: dict[int, str]) -> None:
    for metric in node.get("metrics", ()):
        acc_node[metric["accumulatorId"]] = node["nodeName"]
    for child in node.get("children", ()):
        _index_plan(child, acc_node)


def _scans_source(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope and json.loads(scope).get("name", "").startswith(SOURCE_SCAN):
            return True
    return False


def _add_task(rec: dict, event: dict, acc_node: dict[int, str]) -> None:
    rec["tasks"] += 1
    if event["Task End Reason"]["Reason"] != "Success":
        rec["failed_tasks"] += 1
        return
    info, m = event["Task Info"], event.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    rec["executor_run_s"] += run_ms / 1e3
    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    read = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    # the Spark UI's definition of scheduler delay
    delay_ms = (
        info["Finish Time"]
        - info["Launch Time"]
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0)
    )
    rec["scheduler_delay_s"] += max(0, delay_ms) / 1e3
    for acc in info.get("Accumulables", ()):
        node = acc_node.get(acc["ID"], "")
        if node.startswith(UDF_NODE) and acc["Name"] == "number of output rows":
            rec["udf_rows"] += int(acc["Update"])


def fold(lines: Iterable[str]) -> dict[str, dict]:
    """Per job group: the totals named in ``FIELDS``."""
    groups: dict[str, dict] = {}
    stage_group: dict[tuple[int, int], str] = {}
    acc_node: dict[int, str] = {}

    def rec(group: str) -> dict:
        return groups.setdefault(group, dict.fromkeys(FIELDS, 0))

    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _index_plan(event["sparkPlanInfo"], acc_node)
        elif kind == "SparkListenerJobStart":
            rec(_group(event))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = event["Stage Info"]
            group = _group(event)
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            r = rec(group)
            r["stages"] += 1
            if _scans_source(info):
                r["source_scans"] += 1
                r["source_tasks"] += info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            key = (event["Stage ID"], event["Stage Attempt ID"])
            _add_task(rec(stage_group.get(key, UNGROUPED)), event, acc_node)
    return groups


def total(groups: dict[str, dict], keep=lambda group: True) -> dict:
    """Sum the records of the groups ``keep`` selects."""
    out = dict.fromkeys(FIELDS, 0)
    for group, r in groups.items():
        if keep(group):
            for k in FIELDS:
                out[k] += r[k]
    return out


def fold_file(path: str) -> dict[str, dict]:
    with open(path) as fh:
        return fold(fh)


if __name__ == "__main__":
    print(json.dumps(fold_file(sys.argv[1]), indent=1, sort_keys=True))
