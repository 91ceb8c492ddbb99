"""The event-log rollup: attribution of jobs and task metrics to spans,
and repeatability of the counts across two traced runs. Run from the
repository root:

    python3 -m pytest graftbench/tests -q

The two-run test launches the benchmark twice at the workload's real
size (under a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from graftbench.spans import GROUP_PREFIX, Rollup, Span, jobs_from_events

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task_end(stage, run_ms, shuffle_records=0, input_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": input_bytes, "Records Read": 10},
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": 8 * shuffle_records,
                "Shuffle Records Written": shuffle_records,
            },
            "Shuffle Read Metrics": {"Total Records Read": 0},
        },
    }


def _job(job_id, stages, submit_ms, end_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": job_id,
            "Submission Time": submit_ms,
            "Stage IDs": stages,
            "Properties": props,
        },
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end_ms},
    ]


def test_rollup_attributes_by_group_then_by_time_and_includes_children():
    outer = Span(0, "jobs.run_snapshot", None, 100.0, 110.0)
    inner = Span(1, "sinks.idempotent.write", 0, 104.0, 108.0)
    events = (
        _job(0, [0, 1], 101_000, 102_000, group=f"{GROUP_PREFIX}0")[:1]
        + [_task_end(0, 5, shuffle_records=7, input_bytes=100), _task_end(1, 3)]
        + _job(0, [0, 1], 101_000, 102_000, group=f"{GROUP_PREFIX}0")[1:]
        # job 1 re-lists stage 1 as a skipped parent; its tasks stay with job 0
        + _job(1, [1, 2], 104_500, 107_000, group=f"{GROUP_PREFIX}1")[:1]
        + [_task_end(2, 11, input_bytes=50)]
        + _job(1, [1, 2], 104_500, 107_000)[1:]
        # untagged job submitted inside the inner span's interval
        + _job(2, [3], 105_000, 105_500)[:1]
        + [_task_end(3, 2)]
        + _job(2, [3], 105_000, 105_500)[1:]
        # untagged job outside every span is ignored
        + _job(3, [4], 200_000, 201_000)[:1]
        + [_task_end(4, 99)]
    )
    rollup = Rollup([outer, inner], jobs_from_events(events))
    m_outer, m_inner = rollup.metrics(outer), rollup.metrics(inner)
    assert (m_outer["jobs"], m_outer["tasks"], m_outer["executor_run_ms"]) == (3, 4, 21)
    assert (m_inner["jobs"], m_inner["tasks"], m_inner["executor_run_ms"]) == (2, 2, 13)
    assert m_outer["shuffle_write_records"] == 7
    assert sum(1 for j in rollup.jobs(outer) if j.m["input_bytes"] > 0) == 2
    # covered: [101, 102] and [104.5, 107] -> 3.5 of 10 s
    assert abs(rollup.driver_only_s(outer) - 6.5) < 1e-9
    assert rollup.descendants(outer, "sinks.idempotent.write") == [inner]


def _traced_run(seed: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            "graftbench/run.py",
            "--workload", "snapshot_full_load",
            "--seed", str(seed),
            "--seconds", "1",
            "--trace", "1",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
        check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_two_traced_runs_report_identical_task_counts_and_shuffle_records():
    a, b = _traced_run(11), _traced_run(11)
    for name in (
        "session.jobs",
        "session.tasks",
        "session.shuffle_write_records",
        "operators.snapshot.shuffle_records",
        "jobs.source_passes",
        "sinks.idempotent.rows_sent",
        "sinks.idempotent.batches",
    ):
        assert a[name] == b[name], name
    # the count pass plus the write pass: the baseline for a one-pass job
    assert a["jobs.source_passes"] == 2
    assert a["session.tasks"] > 0 and a["session.shuffle_write_records"] > 0
