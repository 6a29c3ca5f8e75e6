"""The benchmark's workloads: what one operation is, and how its result
is checked.

- Query workloads run registered queries from ``__spark_entry__``.  An
  operation is one query producing its full result: the build call,
  planning forced with ``executedPlan()``, then the action as a
  ``noop``-sink write, so every column of the whole plan runs and no
  rows travel to the driver.  ``.count()`` is not used because Catalyst
  prunes the measured work under it.  In the warm-up pass the action is
  ``collect()`` instead, and the rows are compared, outside the timers,
  with ``oracle_sql()`` on DuckDB through
  ``check_oracle.normalize(..., strict=True)``.
- ``etl_monthly`` runs ``pipelines.etl.run_trips_etl`` month after month
  into one growing fact table, then the verification queries, and ends
  with an idempotent re-run of the last month.  Every load is checked
  against the audit figures the generator computed without Spark.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import datagen

# Build-phase-bound queries: two fixed-point loops, BFS reachability and
# k-means (eager jobs and driver gaps inside the build call), and one
# availableNow stream (its micro-batches run inside the build call, on a
# thread outside the caller's job group).  Five short queries follow so
# that the operator modules the ETL workload does not reach are called in
# every pass: dedup and text, similarity, evaluation and windows, joins
# and aggregates, mining.  Trimmed so that one pass takes 5-10 s at
# sf 0.01 on 4 cores.
GRAPH_ITERATIVE = [
    "q162_bfs_reach",
    "q142_kmeans_clusters",
    "q126_streaming_sessions",
    "q13_exact_dedup",
    "q19_ann_cosine_topk",
    "q226_roc_auc",
    "q07_revenue_by_nation",
    "q260_sequential_trigrams",
]


class _Ops:
    """Shared by both workload kinds: the optional tracer and the
    per-operation span/job-group bookkeeping."""

    tracer = None

    def begin(self, op: str):
        """Set the operation's job group now; return the context of its
        op span, to be entered once the operation's timer starts."""
        self.spark.sparkContext.setJobGroup(op, op)
        if self.tracer is None:
            return contextlib.nullcontext()
        self.tracer.op = op
        return self.tracer.span(f"op:{op.split('/', 1)[1]}")

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)


@dataclass
class OpResult:
    op: str                       # unique id: "<pass>/<name>"
    name: str
    t0: float                     # epoch seconds
    t1: float
    phases: dict[str, tuple[float, float]] = field(default_factory=dict)
    raw_rows: int = 0             # input rows the operation loaded (ETL)
    error: str | None = None
    wrong: str | None = None      # mismatch description, None when right
    checked: bool = False

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def phase_s(self, name: str) -> float:
        a, b = self.phases.get(name, (0.0, 0.0))
        return b - a


class QueryWorkload(_Ops):
    def __init__(self, names: list[str], sf: float) -> None:
        self.names = names
        self.sf = sf

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.rows = datagen.write_tables(self.data, seed=seed, sf=self.sf)
        self.input_rows = sum(self.rows.values())

    def bind(self, spark, entry, check_oracle) -> None:
        import duckdb

        self.spark = spark
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.normalize = check_oracle.normalize
        missing = [n for n in self.names if n not in self.fns or n not in self.oracles]
        if missing:
            raise KeyError(f"queries or oracles not registered: {missing}")
        self.con = duckdb.connect()
        for t in self.rows:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")

    def run_pass(self, k: int, *, check: bool) -> list[OpResult]:
        order = list(self.names)
        random.Random(self.seed * 7919 + k).shuffle(order)
        return [self._op(k, name, check) for name in order]

    def _op(self, k: int, name: str, check: bool) -> OpResult:
        """Checked operations (the warm-up pass) collect as their action
        and are then compared with the oracle; timed ones write to noop."""
        op = f"{k}/{name}"
        group = self.begin(op)
        t0 = time.time()
        r = OpResult(op, name, t0, t0, checked=check)
        try:
            with group:
                with self.span("entry:build"):
                    df = self.fns[name](self.spark, self.data)
                t1 = time.time()
                with self.span("catalyst:plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                with self.span("exec:action"):
                    if check:
                        rows = df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            r.t1 = time.time()
            r.error = f"{type(e).__name__}: {e}"[:500]
            return r
        r.t1 = t3
        r.phases = {"build": (t0, t1), "plan": (t1, t2), "exec": (t2, t3)}
        if check:
            r.wrong = self._check(name, df.columns, rows)
        return r

    def _check(self, name: str, cols: list[str], rows) -> str | None:
        try:
            srows = [[row[c] for c in cols] for row in rows]
            res = self.con.execute(self.oracles[name])
            ocols = [d[0] for d in res.description]
            sn, sc = self.normalize(srows, cols, strict=True)
            on, oc = self.normalize(res.fetchall(), ocols, strict=True)
        except Exception as e:  # noqa: BLE001
            return f"check failed to run: {type(e).__name__}: {e}"[:500]
        if sc != oc:
            return f"columns spark={sc} oracle={oc}"
        if len(sn) != len(on):
            return f"rowcount spark={len(sn)} oracle={len(on)}"
        if sn != on:
            a, b = next((a, b) for a, b in zip(sn, on) if a != b)
            return f"first differing row: spark={a} oracle={b}"[:500]
        return None

    def close(self) -> None:
        self.con.close()


class EtlWorkload(_Ops):
    YEAR = 2024

    def __init__(self, months: int) -> None:
        self.months = months

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.landing = os.path.join(work, "landing")
        self.expected = datagen.write_tlc_months(self.landing, seed=seed, year=self.YEAR, months=self.months)
        self.input_rows = datagen.MONTH_ROWS * (self.months + 1)

    def bind(self, spark, entry, check_oracle) -> None:
        from nyc_taxi_data_prediction_pyspark_spark.pipelines import etl

        self.spark = spark
        self.etl = etl

    def warehouse(self, k: int) -> str:
        return os.path.join(self.work, "warehouse", f"pass{k:+d}")

    def run_pass(self, k: int, *, check: bool) -> list[OpResult]:
        wh = self.warehouse(k)
        shutil.rmtree(wh, ignore_errors=True)
        months = list(range(1, self.months + 1)) + [self.months]
        out = []
        for i, m in enumerate(months):
            name = "rerun" if i == self.months else f"load{m}"
            out.append(self._op(k, name, wh, self.expected[m - 1], rerun=name == "rerun"))
        return out

    def drop(self, k: int) -> None:
        shutil.rmtree(self.warehouse(k), ignore_errors=True)

    def _op(self, k: int, name: str, wh: str, exp: datagen.ExpectedLoad, *, rerun: bool) -> OpResult:
        op = f"{k}/{name}"
        group = self.begin(op)
        t0 = time.time()
        r = OpResult(op, name, t0, t0, raw_rows=datagen.MONTH_ROWS, checked=True)
        try:
            with group:
                res = self.etl.run_trips_etl(
                    self.spark,
                    landing_root=self.landing,
                    warehouse_root=wh,
                    year=self.YEAR,
                    newest_month=int(exp.month[5:]),
                )
                t1 = time.time()
                with self.span("pipelines.etl:verify"):
                    views = self.etl.verification_queries(self.spark, wh)
                    got = {key: df.collect() for key, df in views.items()}
                t2 = time.time()
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            r.t1 = time.time()
            r.error = f"{type(e).__name__}: {e}"[:500]
            return r
        r.t1 = t2
        r.phases = {"run": (t0, t1), "verify": (t1, t2)}
        want = (exp.month, exp.rows_cleaned, 0 if rerun else exp.rows_inserted, exp.fact_count)
        have = (res.month, res.rows_cleaned, res.rows_inserted, res.fact_count)
        first = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=exp.first_pickup_us)
        last = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=exp.last_pickup_us)
        if have != want:
            r.wrong = f"audit (month, cleaned, inserted, fact) = {have}, expected {want}"
        elif got["count"][0]["cnt"] != exp.fact_count:
            r.wrong = f"count query {got['count'][0]['cnt']} != {exp.fact_count}"
        elif (got["date_range"][0]["first_pickup"], got["date_range"][0]["last_pickup"]) != (first, last):
            r.wrong = f"date_range {tuple(got['date_range'][0])} != {(first, last)}"
        elif len(got["sample"]) != 20 or len(got["latest_loads"]) != 10:
            r.wrong = f"sample/latest_loads sizes {len(got['sample'])}/{len(got['latest_loads'])}"
        return r

    def table_stats(self, k: int) -> tuple[int, float]:
        """(parquet files, bytes per row) of the fact table after pass k."""
        p = os.path.join(self.warehouse(k), self.etl.FACT_TABLE)
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(os.path.join(p, f)) for f in files)
        return len(files), nbytes / max(1, self.expected[-1].fact_count)

    def close(self) -> None:
        pass


WORKLOADS = {
    "etl_monthly": lambda: EtlWorkload(months=2),
    "graph_iterative": lambda: QueryWorkload(GRAPH_ITERATIVE, sf=0.01),
}
