"""Read Spark's event log and attribute its work to operations.

Jobs are assigned to the operation, and to the phase of it, whose time
window holds their submission time.  This also catches the jobs that
streaming threads launch outside the caller's job group: an
``availableNow`` query runs inside the build call, so its jobs fall in
that call's window whatever group they carry.  Stages and tasks follow
their job; streaming progress events follow their own timestamps.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
from bisect import bisect_right
from collections import defaultdict
from dataclasses import dataclass, field

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets")


@dataclass
class Window:
    op: str
    t0: float                        # epoch seconds
    t1: float
    phases: dict[str, tuple[float, float]] = field(default_factory=dict)


@dataclass
class OpSpark:
    """Engine counters of one operation."""

    jobs: int = 0
    jobs_outside_group: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    stage_busy_s: float = 0.0
    job_busy_s: float = 0.0
    driver_gap_s: float = 0.0
    task_skew: float = 1.0
    phase_jobs: dict = field(default_factory=lambda: defaultdict(int))
    phase_stages: dict = field(default_factory=lambda: defaultdict(int))
    phase_tasks: dict = field(default_factory=lambda: defaultdict(int))
    batches: list = field(default_factory=list)   # durationMs dicts


def read_events(log_dir: str) -> list[dict]:
    events = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.endswith(".crc"):
                continue
            with open(os.path.join(dirpath, f)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


def _iso_to_epoch(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def attribute(events: list[dict], windows: list[Window]) -> dict[str, OpSpark]:
    windows = sorted(windows, key=lambda w: w.t0)
    starts = [w.t0 for w in windows]

    def find(t: float) -> Window | None:
        i = bisect_right(starts, t) - 1
        if i >= 0 and windows[i].t0 <= t <= windows[i].t1:
            return windows[i]
        return None

    def phase(w: Window, t: float) -> str | None:
        for name, (a, b) in w.phases.items():
            if a <= t <= b:
                return name
        return None

    job_start, job_end, job_group = {}, {}, {}
    stage_job, stage_info, stage_tasks = {}, {}, defaultdict(list)
    task_ends = []
    progress = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_start[jid] = e["Submission Time"] / 1000.0
            job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_info[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = info
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(e)
        elif kind == _PROGRESS:
            progress.append(e["progress"])

    out: dict[str, OpSpark] = {w.op: OpSpark() for w in windows}
    job_ivs, task_ivs = defaultdict(list), defaultdict(list)
    job_op: dict[int, Window] = {}
    for jid, t in job_start.items():
        w = find(t)
        if w is None:
            continue
        job_op[jid] = w
        r = out[w.op]
        r.jobs += 1
        if job_group.get(jid) != w.op:
            r.jobs_outside_group += 1
        p = phase(w, t)
        if p:
            r.phase_jobs[p] += 1
        job_ivs[w.op].append((t, job_end.get(jid, w.t1)))

    for (sid, _att), info in stage_info.items():
        w = job_op.get(stage_job.get(sid))
        if w is None:
            continue
        r = out[w.op]
        r.stages += 1
        p = phase(w, (info.get("Submission Time") or 0) / 1000.0)
        if p:
            r.phase_stages[p] += 1

    for e in task_ends:
        sid = e["Stage ID"]
        w = job_op.get(stage_job.get(sid))
        if w is None:
            continue
        r = out[w.op]
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
        r.tasks += 1
        p = phase(w, launch)
        if p:
            r.phase_tasks[p] += 1
        if info.get("Failed") or info.get("Killed"):
            r.tasks_failed += 1
        run_ms = m.get("Executor Run Time", 0)
        r.task_run_s += run_ms / 1000.0
        r.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        r.gc_s += m.get("JVM GC Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics") or {}
        r.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        r.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        r.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        r.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
        task_ivs[w.op].append((launch, finish))
        stage_tasks[(w.op, sid)].append(run_ms)

    for (op, _sid), runs in stage_tasks.items():
        if len(runs) >= 2:
            skew = max(runs) / max(statistics.median(runs), 1.0)
            out[op].task_skew = max(out[op].task_skew, skew)

    for w in windows:
        r = out[w.op]
        r.stage_busy_s = _union(_clip(task_ivs[w.op], w.t0, w.t1))
        r.job_busy_s = _union(_clip(job_ivs[w.op], w.t0, w.t1))
        r.driver_gap_s = (w.t1 - w.t0) - r.job_busy_s

    for p in progress:
        w = find(_iso_to_epoch(p["timestamp"]))
        if w is not None:
            out[w.op].batches.append(p.get("durationMs") or {})
    return out
