"""Seeded input generators for the benchmark.

Two kinds of input, both written as parquet with pyarrow so that no
Spark session is needed to make them:

- ``write_tables``: the ten testdata-shaped tables the registered
  queries read (``catalog.TABLES``), with the same column names,
  physical types and value domains as the testdata of TESTDATA.md, sized by a
  scale factor (sf 0.01 = 60,000 lineitem rows).
- ``write_tlc_months``: raw TLC-shaped monthly trip files for the ETL
  pipeline, 200,000 rows per month as in the reference, with a stated
  share of rows the clean contract must drop and a stated share of keys
  re-delivered from the prior month.  The expected audit figures of
  every load are computed here with pandas, without Spark.

The same seed always gives the same files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps (µs) uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def write_tables(out_dir: str, *, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = min(2000, max(500, int(20_000 * sf)))
    rows: dict[str, int] = {}
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    rows["region"] = _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    rows["nation"] = _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    rows["customer"] = _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype="int64")
    rows["part"] = _write(p("part"), {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    rows["orders"] = _write(p("orders"), {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_orders)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    rows["lineitem"] = _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    ev_ts = np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n_events))
    rows["events"] = _write(p("events"), {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 101))) for _ in range(n_docs)]
    # ~5% near-duplicates: another document's text with a " dup" suffix
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    rows["documents"] = _write(p("documents"), {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = _write(p("embeddings"), {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return rows


# ---------------------------------------------------------------- TLC months

MONTH_ROWS = 200_000          # the reference's per-run batch size
NULL_PICKUP_SHARE = 0.010     # dropped: null tpep_pickup_datetime
BAD_DISTANCE_SHARE = 0.015    # dropped: trip_distance <= 0
ZERO_AMOUNT_SHARE = 0.010     # dropped: total_amount == 0
REDELIVERED_SHARE = 0.040     # clean rows of the prior month, sent again

_KEY = [
    "tpep_pickup_datetime", "tpep_dropoff_datetime", "PULocationID",
    "DOLocationID", "trip_distance", "total_amount",
]


@dataclass(frozen=True)
class ExpectedLoad:
    """Audit figures one ``run_trips_etl`` call must report."""

    month: str
    rows_cleaned: int
    rows_inserted: int
    fact_count: int
    first_pickup_us: int   # MIN(pickup) over the fact table after the load
    last_pickup_us: int


def _month_frame(rng, year: int, month: int, prior_clean: pd.DataFrame | None) -> pd.DataFrame:
    n = MONTH_ROWS
    start = np.datetime64(f"{year:04d}-{month:02d}-01", "us").astype("int64")
    end = np.datetime64(f"{year:04d}-{month + 1:02d}-01" if month < 12 else f"{year + 1:04d}-01-01", "us")
    span = int(end.astype("int64") - start)
    pickup = start + rng.integers(0, span, n)
    dist = np.round(rng.exponential(3.0, n), 2) + 0.01
    df = pd.DataFrame({
        "VendorID": rng.integers(1, 3, n),
        "tpep_pickup_datetime": pickup,
        "tpep_dropoff_datetime": pickup + rng.integers(60_000_000, 3_600_000_000, n),
        "passenger_count": rng.integers(0, 7, n).astype("float64"),
        "trip_distance": dist,
        "PULocationID": rng.integers(1, 266, n),
        "DOLocationID": rng.integers(1, 266, n),
        "fare_amount": np.round(2.5 + 2.5 * dist, 2),
        "total_amount": np.round(3.5 + 2.5 * dist + rng.uniform(0.0, 5.0, n), 2),
    })
    k0 = 0
    if prior_clean is not None:
        # the first rows are re-deliveries of prior-month clean rows
        k0 = int(n * REDELIVERED_SHARE)
        pick = rng.choice(len(prior_clean), k0, replace=False)
        df = pd.concat([prior_clean.iloc[pick][df.columns], df.iloc[k0:]], ignore_index=True)
    # dirty rows are drawn from the fresh (non-redelivered) part only
    n_null, n_dist, n_amt = (int(n * s) for s in (NULL_PICKUP_SHARE, BAD_DISTANCE_SHARE, ZERO_AMOUNT_SHARE))
    dirty = k0 + rng.choice(n - k0, n_null + n_dist + n_amt, replace=False)
    pickup_null = np.zeros(n, bool)
    pickup_null[dirty[:n_null]] = True
    bad = dirty[n_null:n_null + n_dist]
    df.loc[bad, "trip_distance"] = -np.round(rng.uniform(0.0, 2.0, n_dist), 2)
    df.loc[dirty[n_null + n_dist:], "total_amount"] = 0.0
    df["_pickup_null"] = pickup_null
    return df


def _to_arrow(df: pd.DataFrame) -> pa.Table:
    pickup = pa.array(df["tpep_pickup_datetime"].astype("int64"), pa.int64(), mask=df["_pickup_null"].to_numpy())
    return pa.table({
        "VendorID": pa.array(df["VendorID"].astype("int64")),
        "tpep_pickup_datetime": pickup.cast(pa.timestamp("us")),
        "tpep_dropoff_datetime": _ts(df["tpep_dropoff_datetime"].to_numpy()),
        "passenger_count": pa.array(df["passenger_count"].astype("float64")),
        "trip_distance": pa.array(df["trip_distance"].astype("float64")),
        "PULocationID": pa.array(df["PULocationID"].astype("int64")),
        "DOLocationID": pa.array(df["DOLocationID"].astype("int64")),
        "fare_amount": pa.array(df["fare_amount"].astype("float64")),
        "total_amount": pa.array(df["total_amount"].astype("float64")),
    })


def write_tlc_months(landing: str, *, seed: int, year: int, months: int) -> list[ExpectedLoad]:
    """Land ``months`` monthly files (Jan..) and return the expected
    audit of loading them in order into an empty fact table."""
    os.makedirs(landing, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    fact_keys = None
    prior_clean = None
    first = last = None
    expected = []
    for m in range(1, months + 1):
        df = _month_frame(rng, year, m, prior_clean)
        name = f"{year:04d}-{m:02d}"
        pq.write_table(_to_arrow(df), os.path.join(landing, f"yellow_tripdata_{name}.parquet"))
        clean = df[~df["_pickup_null"] & (df["trip_distance"] > 0) & (df["total_amount"] > 0)]
        # insert-if-not-matched on the 6-column key, no dedup inside the batch
        if fact_keys is None:
            fact_keys = clean[_KEY].iloc[:0]
        seen = clean[_KEY].merge(fact_keys.drop_duplicates(), on=_KEY, how="left", indicator=True)
        new = seen[seen["_merge"] == "left_only"][_KEY]
        fact_keys = pd.concat([fact_keys, new], ignore_index=True)
        if len(new):
            lo, hi = int(new["tpep_pickup_datetime"].min()), int(new["tpep_pickup_datetime"].max())
            first = lo if first is None else min(first, lo)
            last = hi if last is None else max(last, hi)
        expected.append(ExpectedLoad(name, len(clean), len(new), len(fact_keys), first, last))
        prior_clean = clean.reset_index(drop=True)
    return expected
