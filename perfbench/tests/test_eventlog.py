"""Self-test of the event-log fold on a small hand-built log.

    python3 -m pytest perfbench/tests -q

The fixture has three job groups: a build group whose stage scans the
``confluence_pages`` source and runs a pandas UDF, an exec group with a
failed task that is retried (a second stage attempt) and whose UDF node
only appears after an adaptive re-plan, and a job with no group.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import eventlog

FIXTURE = Path(__file__).with_name("eventlog_small.jsonl")

EXPECTED = {
    "q1:build": {
        "jobs": 1,
        "stages": 1,
        "tasks": 2,
        "failed_tasks": 0,
        "executor_run_s": 2.0,
        "executor_cpu_s": 1.25,
        "gc_s": 0.1,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 4096,
        "spill_bytes": 0,
        "scheduler_delay_s": 0.105,
        "source_scans": 1,
        "source_tasks": 2,
        "udf_rows": 17,
    },
    "q1:exec": {
        "jobs": 1,
        "stages": 2,
        "tasks": 2,
        "failed_tasks": 1,
        "executor_run_s": 0.2,
        "executor_cpu_s": 0.1,
        "gc_s": 0.02,
        "shuffle_read_bytes": 1024,
        "shuffle_write_bytes": 0,
        "spill_bytes": 512,
        "scheduler_delay_s": 0.0,
        "source_scans": 0,
        "source_tasks": 0,
        "udf_rows": 5,
    },
    eventlog.UNGROUPED: {
        "jobs": 1,
        "stages": 1,
        "tasks": 1,
        "failed_tasks": 0,
        "executor_run_s": 0.05,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "scheduler_delay_s": 0.25,
        "source_scans": 1,
        "source_tasks": 1,
        "udf_rows": 0,
    },
}


def test_fold_per_group_totals():
    groups = eventlog.fold_file(str(FIXTURE))
    assert sorted(groups) == sorted(EXPECTED)
    for group, want in EXPECTED.items():
        assert groups[group] == pytest.approx(want), group


def test_total_sums_selected_groups():
    groups = eventlog.fold_file(str(FIXTURE))
    grouped = eventlog.total(groups, lambda g: g != eventlog.UNGROUPED)
    assert grouped["jobs"] == 2
    assert grouped["tasks"] == 4
    assert grouped["udf_rows"] == 22
    assert grouped["executor_run_s"] == pytest.approx(2.2)
    assert eventlog.total(groups)["source_scans"] == 2
