"""Attribution of event-log work to operations, on a synthetic log."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


def _job(jid, t, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group} if group else {}}


def _task(sid, launch, finish, run_ms, cpu_ns):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": False, "Killed": False},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns}}


def _stage(sid, t0, t1):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": t0, "Completion Time": t1}}


def test_jobs_outside_the_group_are_attributed_by_time_window():
    # op "1/q" runs 0-10 s: build 0-6, exec 6-10.  Job 1 carries the
    # op's group; job 2 comes from a streaming thread with no group.
    events = [
        _job(1, 1000, "1/q", [10]), _stage(10, 1000, 3000),
        _task(10, 1000, 3000, 2000, 1_500_000_000), _task(10, 1000, 2000, 1000, 900_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
        _job(2, 4000, None, [11]), _stage(11, 4000, 5000), _task(11, 4000, 5000, 1000, 1_000_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5000},
        _job(3, 7000, "1/q", [12]), _stage(12, 7000, 9000), _task(12, 7000, 9000, 2000, 2_000_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 9000},
        # a job after the window belongs to no operation
        _job(4, 20000, None, [13]), _stage(13, 20000, 21000), _task(13, 20000, 21000, 1000, 1),
    ]
    w = eventlog.Window("1/q", 0.0, 10.0, {"build": (0.0, 6.0), "exec": (6.0, 10.0)})
    r = eventlog.attribute(events, [w])["1/q"]
    assert (r.jobs, r.jobs_outside_group, r.stages, r.tasks) == (3, 1, 3, 4)
    assert r.phase_jobs == {"build": 2, "exec": 1}
    assert abs(r.task_cpu_s - 5.4) < 1e-9
    assert r.stage_busy_s == 5.0          # 1-3, 4-5, 7-9
    assert r.job_busy_s == 5.0
    assert r.driver_gap_s == 5.0          # 0-1, 3-4, 5-7, 9-10
    assert r.task_skew == 2000 / 1500     # stage 10: max 2000 ms over median 1500 ms


def test_streaming_progress_follows_its_timestamp():
    progress = {"Event": eventlog._PROGRESS, "progress": {
        "timestamp": "1970-01-01T00:00:02.000Z", "durationMs": {"addBatch": 40, "triggerExecution": 55}}}
    w = eventlog.Window("1/s", 0.0, 10.0)
    r = eventlog.attribute([progress], [w])["1/s"]
    assert r.batches == [{"addBatch": 40, "triggerExecution": 55}]
