"""Layer-attributed benchmark of the NYC-taxi Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[min(4, nproc)]``:

1. set-up: isolate the environment in a fresh work directory, generate
   the seeded inputs, import the program, start the session (which
   launches the JVM), then one warm-up pass with every result checked;
2. timed passes until ``--seconds`` have been measured (at least three);
3. engine versions are recorded, and a traced run adds
   ``bench.run_canary``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` spans are recorded around every layer and Spark's
event log is on; timed passes alternate traced and untraced, and the
last line carries the per-layer metrics.  A detailed record of each run
(per-operation timings, spans) is written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS, EtlWorkload  # noqa: E402

PACKAGE = "nyc_taxi_data_prediction_pyspark_spark"
MIN_PASSES = 3
DRIVER_MEM = "2g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def isolate(work: str, *, trace: bool) -> dict:
    """Point every scratch location of Spark, the JVM and Python at the
    work directory, before any of them starts."""
    for d in ("tmp", "local", "warehouse-dir", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse-dir"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap (-Xms = driver memory): no heap-growth drift between passes
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in conf.items() if " " not in v)
        + f' --driver-java-options "{conf["spark.driver.extraJavaOptions"]}" pyspark-shell',
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    os.chdir(work)
    return env


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this process plus the driver JVM (and any
    process between them), from /proc."""

    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def tree(pid) -> list[int]:
        out = [pid]
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    for c in f.read().split():
                        out += tree(int(c))
        except OSError:
            pass
        return out

    kb = hwm("self") + (sum(hwm(p) for p in tree(jvm_pid)) if jvm_pid else 0)
    return kb / 1024.0


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.wl = WORKLOADS[args.workload]()
        self.tracer = None
        self.ops: list = []          # operations of the (traced) timed passes
        self.passes: list[list] = []
        self.untraced: list[list] = []   # untraced passes of a traced run
        self.warm: list = []
        self.table_stats: list[tuple[int, float]] = []
        self.timing: dict[str, float] = {}

    # ---- set-up ------------------------------------------------------

    def setup(self) -> None:
        t = time.perf_counter()
        self.env = isolate(self.work, trace=self.trace)
        self.wl.prepare(self.work, self.args.seed)
        self.timing["datagen_s"] = time.perf_counter() - t

        t = time.perf_counter()
        sys.path.insert(0, ROOT)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import __spark_entry__ as entry
        import check_oracle
        from nyc_taxi_data_prediction_pyspark_spark import session
        from nyc_taxi_data_prediction_pyspark_spark.pipelines import etl  # noqa: F401
        from pyspark import SparkContext

        self.timing["import_s"] = time.perf_counter() - t
        if self.trace:
            self.install_tracer()

        # the start also launches the JVM, with get_spark's own
        # configuration (driver memory included)
        t = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.spark.range(1).count()
        self.timing["session_start_s"] = time.perf_counter() - t
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.quiet_accumulator_errors()
        self.wl.bind(self.spark, entry, check_oracle)

        self.wl.tracer = self.tracer
        # one warm-up pass, every result of it checked
        self.warm = self.wl.run_pass(0, check=True)
        self.timing["warmup_s"] = sum(r.wall for r in self.warm)
        self.timing["setup_s"] = (
            self.timing["import_s"] + self.timing["session_start_s"] + self.timing["warmup_s"]
        )

    def quiet_accumulator_errors(self) -> None:
        # the benign "non-existent accumulator" ERROR after local
        # checkpoints floods stderr; silence that one logger only
        jvm = self.spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
        )

    def install_tracer(self) -> None:
        import importlib

        from layers import OPERATOR_MODULES
        from spans import Tracer

        def mod(name):
            return importlib.import_module(f"{PACKAGE}.{name}")

        targets = {f"operators.{m}": mod(f"operators.{m}") for m in OPERATOR_MODULES}
        targets.update({
            "session": mod("session"),
            "streaming": mod("streaming.pipeline"),
            "sources.discovery": mod("sources.discovery"),
            "sources.warehouse": mod("sources.warehouse").Warehouse,
            "pipelines.etl": mod("pipelines.etl"),
        })
        self.tracer = Tracer()
        self.tracer.install(targets, PACKAGE)

    # ---- measurement -------------------------------------------------

    def measure(self) -> None:
        """Timed passes until --seconds and MIN_PASSES are both met.  A
        traced run alternates traced and untraced passes (MIN_PASSES of
        each); the untraced ones give trace.overhead_frac."""
        t_start = time.perf_counter()
        k = 0
        while (
            len(self.passes) < MIN_PASSES
            or (self.trace and len(self.untraced) < MIN_PASSES)
            or time.perf_counter() - t_start < self.args.seconds
        ):
            k += 1
            self.settle()
            traced = self.trace and k % 2 == 1
            if self.tracer:
                self.tracer.enabled = traced
                self.wl.tracer = self.tracer if traced else None
            ops = self.wl.run_pass(k, check=False)
            (self.passes if traced or not self.trace else self.untraced).append(ops)
            if isinstance(self.wl, EtlWorkload):
                self.table_stats.append(self.wl.table_stats(k))
                self.wl.drop(k)
        self.timing["measured_s"] = time.perf_counter() - t_start
        self.ops = [r for p in self.passes for r in p]

    def settle(self) -> None:
        """Between passes, outside the timers: drop cached frames and
        collect garbage, so each pass starts from the same state."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def finish(self) -> dict:
        import bench

        self.rss_mb = peak_rss_mb(self.jvm_pid)
        self.context = {"versions": bench.engine_versions(), "cpus": cpus(), "driver_mem": DRIVER_MEM}
        if self.trace:
            # ~6 s of host-drift context: paid in traced runs only
            self.context["canary"] = bench.run_canary(self.spark)
        t = time.perf_counter()
        self.wl.close()
        self.stop()
        self.timing["stop_s"] = time.perf_counter() - t
        return self.context

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if getattr(self, "spark", None) is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # ---- results -----------------------------------------------------

    def counts(self) -> tuple[int, int, int, int]:
        every = self.warm + [r for p in self.passes + self.untraced for r in p]
        failed = sum(r.error is not None for r in every)
        checked = sum(r.checked for r in every)
        wrong = sum(r.wrong is not None for r in every)
        return len(every), failed, checked, wrong

    def pass_walls(self, passes=None) -> list[float]:
        return [p[-1].t1 - p[0].t0 for p in (self.passes if passes is None else passes)]

    def end_to_end(self) -> dict:
        walls = self.pass_walls()
        if isinstance(self.wl, EtlWorkload):  # raw landed rows / load time
            rates = [sum(r.raw_rows for r in p) / sum(r.phase_s("run") for r in p) for p in self.passes]
        else:
            rates = [self.wl.input_rows / w for w in walls]
        # median over operations of each operation's median latency: the
        # pooled median would fall in the gap between the short and the
        # long queries and jump between them from run to run
        per_op: dict[str, list[float]] = {}
        for r in self.ops:
            per_op.setdefault(r.name, []).append(r.wall)
        return {
            "setup_s": (self.timing["setup_s"], "s"),
            "wall_s": (median(walls), "s"),
            "op_p50_s": (median([median(v) for v in per_op.values()]), "s"),
            "rows_per_s": (median(rates), "1/s"),
            "peak_rss_mb": (self.rss_mb, "MB"),
        }

    def record(self) -> dict:
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.trace,
            "timing": self.timing,
            "context": self.context,
            "env": self.env,
            "ops": [
                {"op": r.op, "wall": r.wall, "phases": {k: b - a for k, (a, b) in r.phases.items()},
                 "error": r.error, "wrong": r.wrong}
                for r in self.warm + self.ops
            ],
        }


def main(argv=None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(os.path.join(ROOT, PACKAGE))):
        print(f"program sources not found under {ROOT}: need __spark_entry__.py and {PACKAGE}/", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    b = Bench(args, work)
    try:
        b.setup()
        b.measure()
        b.finish()
        attempted, failed, checked, wrong = b.counts()
        rec = b.record()
        if args.trace:
            import layers

            metrics = layers.per_layer(b, os.path.join(work, "eventlog"))
            rec["spans"] = b.tracer.dump()
            rec["reconcile"] = layers.reconcile_rows(b)
        else:
            metrics = b.end_to_end()
        rec["metrics"] = metrics
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(rec, f, indent=1, default=str)
    finally:
        b.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for r in b.warm + b.ops:
        if r.error or r.wrong:
            print(f"{r.op}: {r.error or r.wrong}", file=sys.stderr)
    b.timing["process_s"] = time.perf_counter() - t_main
    print(json.dumps({"context": b.context, "timing": b.timing}, default=str))
    print(json.dumps({
        "correct": failed == 0 and wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
