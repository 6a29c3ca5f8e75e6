"""Per-layer metrics of a traced run.

Every metric is summed over the operations of one timed pass and
reported as the median over passes, unless its description says
otherwise.  Layer names follow the program's modules; see README.md for
which end-to-end metric each one is expected to move.
"""

from __future__ import annotations

import statistics

import eventlog

OPERATOR_MODULES = (
    "graph", "dedup", "clustering", "mining", "similarity", "text",
    "evaluation", "windows", "aggregates", "joins", "cleaning", "merge",
)

STREAM_PHASES = eventlog.PHASES


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _attribute(b, log_dir: str) -> dict:
    windows = [eventlog.Window(r.op, r.t0, r.t1, dict(r.phases)) for r in b.warm + b.ops if not r.error]
    return eventlog.attribute(eventlog.read_events(log_dir), windows)


def per_layer(b, log_dir: str) -> dict:
    sp = b.spark_ops = _attribute(b, log_dir)
    selfs = b.tracer.self_times()
    totals = {n: b.tracer.totals(n) for n in (
        "pipelines.etl:run_trips_etl", "pipelines.etl:verify",
        "sources.discovery:read_latest_month", "sources.warehouse:merge_load",
        "sources.warehouse:read",
    )}
    passes = b.passes
    cores = b.context["cpus"]

    def per_pass(fn):
        return median([fn(p) for p in passes])

    def ssum(p, attr):
        return sum(getattr(sp[r.op], attr) for r in p if r.op in sp)

    def phase_count(p, kind, phase):
        return sum(getattr(sp[r.op], kind).get(phase, 0) for r in p if r.op in sp)

    def self_s(p, layer):
        return sum(sum(selfs.get(r.op, {}).get(layer, [])) for r in p)

    def calls(p, layer):
        return sum(len(selfs.get(r.op, {}).get(layer, [])) for r in p)

    def total(p, name):
        return sum(totals[name].get(r.op, 0.0) for r in p)

    def eff(p):
        busy = ssum(p, "stage_busy_s")
        return ssum(p, "task_cpu_s") / (busy * cores) if busy else 0.0

    batches = [d for p in passes for r in p if r.op in sp for d in sp[r.op].batches]

    def batch_ms(key):
        return median([d.get(key, 0) for d in batches])

    attempted, failed, checked, wrong = b.counts()
    walls = b.pass_walls()
    stats = b.table_stats or [(0, 0.0)]
    m = {
        "session.import_s": (b.timing["import_s"], "s"),
        "session.start_s": (b.timing["session_start_s"], "s"),
        "session.warmup_s": (b.timing["warmup_s"], "s"),
        "entry.build_s": (per_pass(lambda p: sum(r.phase_s("build") for r in p)), "s"),
        "entry.build_jobs": (per_pass(lambda p: phase_count(p, "phase_jobs", "build")), "count"),
        "entry.build_stages": (per_pass(lambda p: phase_count(p, "phase_stages", "build")), "count"),
        "catalyst.plan_s": (per_pass(lambda p: sum(r.phase_s("plan") for r in p)), "s"),
        "exec.action_s": (per_pass(lambda p: sum(r.phase_s("exec") for r in p)), "s"),
        "exec.jobs": (per_pass(lambda p: phase_count(p, "phase_jobs", "exec")), "count"),
        "exec.stages": (per_pass(lambda p: phase_count(p, "phase_stages", "exec")), "count"),
        "exec.tasks": (per_pass(lambda p: phase_count(p, "phase_tasks", "exec")), "count"),
        "spark.jobs": (per_pass(lambda p: ssum(p, "jobs")), "count"),
        "spark.jobs_outside_group": (per_pass(lambda p: ssum(p, "jobs_outside_group")), "count"),
        "spark.task_cpu_s": (per_pass(lambda p: ssum(p, "task_cpu_s")), "s"),
        "spark.task_run_s": (per_pass(lambda p: ssum(p, "task_run_s")), "s"),
        "spark.stage_busy_s": (per_pass(lambda p: ssum(p, "stage_busy_s")), "s"),
        "spark.driver_gap_s": (per_pass(lambda p: ssum(p, "driver_gap_s")), "s"),
        "spark.parallel_eff": (per_pass(eff), "ratio"),
        "spark.task_skew": (per_pass(lambda p: max([sp[r.op].task_skew for r in p if r.op in sp] or [1.0])), "ratio"),
        "spark.shuffle_read_bytes": (per_pass(lambda p: ssum(p, "shuffle_read_bytes")), "bytes"),
        "spark.shuffle_write_bytes": (per_pass(lambda p: ssum(p, "shuffle_write_bytes")), "bytes"),
        "spark.spill_bytes": (per_pass(lambda p: ssum(p, "spill_bytes")), "bytes"),
        "spark.gc_s": (per_pass(lambda p: ssum(p, "gc_s")), "s"),
        "spark.input_rows": (per_pass(lambda p: ssum(p, "input_rows")), "count"),
        "spark.tasks_failed": (per_pass(lambda p: ssum(p, "tasks_failed")), "count"),
    }
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.self_s"] = (per_pass(lambda p, L=layer: self_s(p, L)), "s")
        m[f"{layer}.calls"] = (per_pass(lambda p, L=layer: calls(p, L)), "count")
    m.update({
        "streaming.self_s": (per_pass(lambda p: self_s(p, "streaming")), "s"),
        "streaming.batches": (per_pass(lambda p: sum(len(sp[r.op].batches) for r in p if r.op in sp)), "count"),
        "streaming.batch_ms_p50": (batch_ms("triggerExecution"), "ms"),
    })
    for ph in STREAM_PHASES:
        m[f"streaming.{ph}_ms"] = (batch_ms(ph), "ms")
    m.update({
        "pipelines.etl.run_s": (per_pass(lambda p: total(p, "pipelines.etl:run_trips_etl")), "s"),
        "pipelines.etl.verify_s": (per_pass(lambda p: total(p, "pipelines.etl:verify")), "s"),
        "sources.discovery.read_s": (per_pass(lambda p: total(p, "sources.discovery:read_latest_month")), "s"),
        "sources.warehouse.merge_load_s": (per_pass(lambda p: total(p, "sources.warehouse:merge_load")), "s"),
        "sources.warehouse.read_s": (per_pass(lambda p: total(p, "sources.warehouse:read")), "s"),
        "sources.warehouse.files": (median([s[0] for s in stats]), "count"),
        "sources.warehouse.bytes_per_row": (median([s[1] for s in stats]), "B/row"),
        "canary.range_agg_s": (b.context["canary"]["range_agg"], "s"),
        "canary.sched_20job_s": (b.context["canary"]["sched_20job"], "s"),
        "trace.overhead_frac": (median(walls) / median(b.pass_walls(b.untraced)) - 1.0, "ratio"),
        "fail_frac": (failed / attempted, "ratio"),
        "wrong_frac": (wrong / checked if checked else 0.0, "ratio"),
    })
    return m


def reconcile_rows(b) -> list[dict]:
    """Per traced timed operation: its wall time from the benchmark's
    timers, the summed durations of its phase spans (entry, catalyst,
    exec; or the ETL run and verify spans), the duration of its op span
    and the self times of all its spans over every layer (which add up
    to the op span only if every span nests inside its parent), and the
    event-log split of the same window into busy and gap time."""
    phase_spans = ("entry:build", "catalyst:plan", "exec:action", "pipelines.etl:run_trips_etl", "pipelines.etl:verify")
    phases = {n: b.tracer.totals(n) for n in phase_spans}
    selfs = b.tracer.self_times()
    rows = []
    for r in b.ops:
        s = b.spark_ops.get(r.op)
        if s is None:
            continue
        rows.append({
            "op": r.op,
            "wall_s": r.wall,
            "phases_s": sum(phases[n].get(r.op, 0.0) for n in phase_spans),
            "op_span_s": b.tracer.totals(f"op:{r.name}").get(r.op, 0.0),
            "self_sum_s": sum(sum(v) for v in selfs.get(r.op, {}).values()),
            "stage_busy_s": s.stage_busy_s,
            "job_busy_s": s.job_busy_s,
            "driver_gap_s": s.driver_gap_s,
        })
    return rows
