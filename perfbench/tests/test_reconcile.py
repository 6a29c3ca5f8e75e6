"""End-to-end checks of the benchmark's own output.

Three short runs are shared by the tests below (about four minutes in
all): a plain run of ``etl_monthly`` and a traced run of each workload.

- Per traced operation, the spans of its phases (``entry`` build,
  ``catalyst`` plan, ``exec`` action; or the ETL run and verification)
  add up to the wall time the benchmark's own timers measured, within
  PHASE_TOL_S.
- Per traced operation, the self times of all its spans, over every
  layer, add up to its op span, and the op span to its wall time, within
  PHASE_TOL_S.  This fails if a wrapped call is attributed to the wrong
  parent or operation, or if a span outlives its parent.
- Per traced operation, the event log's busy time (some task running)
  plus its driver-gap time (no job running) covers at least COVER_MIN of
  the wall time; the rest is time a job was open with no task running.
- Every layer is measured on some workload: each operator module is
  called, and the streaming, ETL and source layers report work.
- The plain run names every end-to-end metric of BENCHMARK.json with its
  unit, and each traced run every per-layer metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from layers import OPERATOR_MODULES  # noqa: E402

PHASE_TOL_S = 0.005
COVER_MIN = 0.80
SEED = 97


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300)
    assert p.returncode == 0
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        return json.loads(p.stdout.strip().splitlines()[-1]), json.load(f)


@pytest.fixture(scope="module")
def plain():
    return _run("etl_monthly", 0)


@pytest.fixture(scope="module")
def traced_graph():
    return _run("graph_iterative", 1)


@pytest.fixture(scope="module")
def traced_etl():
    return _run("etl_monthly", 1)


@pytest.fixture(scope="module")
def traced(traced_graph, traced_etl):
    return [traced_graph, traced_etl]


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_runs_are_correct(plain, traced):
    for line, _ in [plain, *traced]:
        assert line["correct"] and line["failed"] == 0 and line["attempted"] > 0


def test_phase_spans_add_up_to_operation_wall_time(traced):
    for _, rec in traced:
        assert rec["reconcile"]
        for r in rec["reconcile"]:
            assert abs(r["phases_s"] - r["wall_s"]) <= PHASE_TOL_S, r


def test_self_times_add_up_to_operation_span(traced):
    for _, rec in traced:
        for r in rec["reconcile"]:
            assert abs(r["self_sum_s"] - r["op_span_s"]) <= PHASE_TOL_S, r
            assert abs(r["op_span_s"] - r["wall_s"]) <= PHASE_TOL_S, r


def test_busy_plus_gap_covers_wall_time(traced):
    for _, rec in traced:
        for r in rec["reconcile"]:
            covered = r["stage_busy_s"] + r["driver_gap_s"]
            assert covered <= r["wall_s"] + 1e-3, r
            assert covered >= COVER_MIN * r["wall_s"], r


def test_streaming_jobs_outside_the_group_are_counted(traced_graph):
    m = traced_graph[0]["metrics"]
    assert m["spark.jobs_outside_group"]["value"] > 0
    assert m["entry.build_jobs"]["value"] > 0
    assert m["streaming.batches"]["value"] > 0


def test_every_layer_is_measured_on_some_workload(traced_graph, traced_etl):
    def best(name):
        return max(line["metrics"][name]["value"] for line, _ in (traced_graph, traced_etl))

    for mod in OPERATOR_MODULES:
        assert best(f"operators.{mod}.calls") > 0, mod
        assert best(f"operators.{mod}.self_s") > 0, mod
    for name in ("streaming.self_s", "streaming.batches", "pipelines.etl.run_s", "pipelines.etl.verify_s",
                 "sources.discovery.read_s", "sources.warehouse.merge_load_s", "sources.warehouse.read_s",
                 "sources.warehouse.files", "entry.build_s", "exec.action_s", "catalyst.plan_s"):
        assert best(name) > 0, name


def test_plain_run_names_every_end_to_end_metric(plain, spec):
    got = {k: v["unit"] for k, v in plain[0]["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec["end_to_end"]}


def test_traced_run_names_every_per_layer_metric(traced, spec):
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for line, _ in traced:
        assert {k: v["unit"] for k, v in line["metrics"].items()} == want
