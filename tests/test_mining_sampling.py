"""Mining + sampling operators (round-5 additions): prefix-filter
similarity join, frequent pairs, skyline, weighted median, PPS
sampling, entropy profile."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from nyc_taxi_data_prediction_pyspark_spark.operators import dedup, mining
from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
    grouped_entropy,
    grouped_weighted_median,
)
from nyc_taxi_data_prediction_pyspark_spark.operators.text import pps_systematic_sample


def _pairs(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_prefix_filter_equals_uncapped_posting_join(spark):
    """Prefix filtering must be COMPLETE: same answer as the inverted-
    index join with no df-cap, across thresholds."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(40):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randint(5, 30))]
        docs.append((i, " ".join(words)))
        if i % 4 == 0:  # planted near-dup: small mutation
            mut = list(words)
            mut[rng.randrange(len(mut))] = vocab[rng.randrange(len(vocab))]
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.2, 0.5, 0.8):
        want = _pairs(
            dedup.ngram_jaccard_pairs(
                df, text_col="text", id_col="doc_id", n=3, threshold=t, max_posting=None
            )
        )
        got = _pairs(
            dedup.prefix_filter_pairs(df, text_col="text", id_col="doc_id", n=3, threshold=t)
        )
        assert got == want, f"t={t}: prefix filter missed or invented pairs"
    assert want, "fixture produced no pairs at t=0.8 — test is vacuous"


def test_prefix_filter_positional_boundary_exact_alpha(spark):
    """The PPJoin positional filter prunes on ub < alpha; a pair whose
    true overlap is EXACTLY alpha sits on the prune boundary and must
    survive, while one token fewer must drop below threshold. n=1
    shingles make the token sets the word sets, so overlap is
    constructed exactly: |A|=|B|=10, t=0.5 -> alpha = ceil(20/3) = 7;
    J(7)=7/13>=0.5 kept, J(6)=6/14<0.5 dropped."""
    shared = [f"s{i}" for i in range(7)]
    a = shared + ["ax1", "ax2", "ax3"]
    b7 = shared + ["bx1", "bx2", "bx3"]
    b6 = shared[:6] + ["cx1", "cx2", "cx3", "cx4"]
    df = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b7)), (3, " ".join(b6))],
        "doc_id long, text string",
    )
    got = _pairs(
        dedup.prefix_filter_pairs(df, text_col="text", id_col="doc_id", n=1, threshold=0.5)
    )
    assert (1, 2) in got and abs(got[(1, 2)] - round(7 / 13, 6)) < 1e-9
    assert (1, 3) not in got


def test_prefix_filter_complete_under_hot_token(spark):
    """Every doc shares one stop-word-class token (df = |corpus|): the
    rare-first order pushes it out of almost every prefix and the
    positional filter prunes the rest — completeness vs the uncapped
    join must still hold on this, the adversarial df profile."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(30):
        words = ["the"] * 3 + [vocab[rng.randrange(len(vocab))] for _ in range(rng.randint(4, 24))]
        rng.shuffle(words)
        docs.append((i, " ".join(words)))
        if i % 3 == 0:
            mut = list(words)
            mut[rng.randrange(len(mut))] = vocab[rng.randrange(len(vocab))]
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.3, 0.6, 0.9):
        want = _pairs(
            dedup.ngram_jaccard_pairs(
                df, text_col="text", id_col="doc_id", n=2, threshold=t, max_posting=None
            )
        )
        got = _pairs(
            dedup.prefix_filter_pairs(df, text_col="text", id_col="doc_id", n=2, threshold=t)
        )
        assert got == want, f"t={t}: positional filter broke completeness"


def test_frequent_pairs_hand_case(spark):
    baskets = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "d"),
        (4, "c"), (4, "d"),
        (5, "a"), (5, "a"),  # duplicate item in one basket counts once
    ]
    df = spark.createDataFrame(baskets, "b long, i string")
    got = {
        (r.item_a, r.item_b): r.support
        for r in mining.frequent_pairs(
            df, basket_col="b", item_col="i", min_support=2
        ).collect()
    }
    # supports: a=4, b=3, c=2, d=2 -> all frequent; pairs >= 2: (a,b)=3
    assert got == {("a", "b"): 3}


def test_frequent_triples_matches_brute_force(spark):
    """In-row triple generation + double downward closure must equal
    the brute-force triple count over random baskets."""
    from itertools import combinations

    rng = random.Random(13)
    items = [f"i{k}" for k in range(12)]
    rows = []
    baskets = {}
    for b in range(60):
        basket = sorted(rng.sample(items, rng.randint(2, 6)))
        baskets[b] = set(basket)
        rows += [(b, i) for i in basket]
    df = spark.createDataFrame(rows, "b long, i string")
    for s in (2, 3, 5):
        want = {}
        for bs in baskets.values():
            for tri in combinations(sorted(bs), 3):
                want[tri] = want.get(tri, 0) + 1
        want = {t: c for t, c in want.items() if c >= s}
        got = {
            (r.item_a, r.item_b, r.item_c): r.support
            for r in mining.frequent_triples(
                df, basket_col="b", item_col="i", min_support=s
            ).collect()
        }
        assert got == want, f"min_support={s}"


def test_frequent_triples_hand_case(spark):
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"), (2, "c"), (2, "d"),
        (3, "a"), (3, "b"), (3, "c"),
        (4, "b"), (4, "c"), (4, "d"),
        (5, "a"), (5, "a"),  # dup item counts once
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    got = {
        (r.item_a, r.item_b, r.item_c): r.support
        for r in mining.frequent_triples(
            df, basket_col="b", item_col="i", min_support=3
        ).collect()
    }
    assert got == {("a", "b", "c"): 3}


def test_frequent_pairs_prunes_infrequent_items(spark):
    # item 'x' appears once: any pair containing it must not survive
    # even though ('x','y') would co-occur once
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "y"), (2, "z"), (3, "y"), (3, "z")], "b long, i string"
    )
    got = {
        (r.item_a, r.item_b)
        for r in mining.frequent_pairs(
            df, basket_col="b", item_col="i", min_support=2
        ).collect()
    }
    assert got == {("y", "z")}


def _brute_skyline(pts):
    out = []
    for p in set(pts):
        dominated = any(
            q[0] <= p[0] and q[1] >= p[1] and q != p for q in set(pts)
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_matches_brute_force(spark):
    rng = random.Random(11)
    pts = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(300)]
    pts += pts[:20]  # duplicates must collapse, not dominate each other
    df = spark.createDataFrame(pts, "cost long, quality long")
    for n_parts in (1, 3, 16):
        got = sorted(
            (r.cost, r.quality)
            for r in mining.skyline_2d(
                df, minimize="cost", maximize="quality", num_partitions=n_parts
            ).collect()
        )
        assert got == _brute_skyline(pts), f"n_parts={n_parts}"


def test_weighted_median_hand_case_and_unit_weight_reduction(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 8.0)], "k string, v double, w double"
    )
    r = grouped_weighted_median(
        df, group_keys=["k"], value_col="v", weight_col="w"
    ).collect()
    assert r[0].weighted_median == 3.0  # weight mass sits on 3.0
    # unit weights -> ordinary lower median
    df2 = spark.createDataFrame(
        [("g", float(v), 1.0) for v in (5, 1, 3, 2, 4)], "k string, v double, w double"
    )
    r2 = grouped_weighted_median(
        df2, group_keys=["k"], value_col="v", weight_col="w"
    ).collect()
    assert r2[0].weighted_median == 3.0
    # even count: lower median (first value reaching half the mass)
    df3 = spark.createDataFrame(
        [("g", float(v), 1.0) for v in (1, 2, 3, 4)], "k string, v double, w double"
    )
    assert (
        grouped_weighted_median(df3, group_keys=["k"], value_col="v", weight_col="w")
        .collect()[0]
        .weighted_median
        == 2.0
    )


def test_pps_sample_hits_sum_to_k_and_paths_agree(spark):
    rng = random.Random(3)
    rows = [(i, rng.randint(1, 500)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    for k in (1, 7, 100, 1000):
        one = pps_systematic_sample(
            df, id_col="doc_id", weight_col="n_tokens", k=k, two_phase=False
        )
        two = pps_systematic_sample(
            df, id_col="doc_id", weight_col="n_tokens", k=k, two_phase=True, num_partitions=8
        )
        got1 = sorted(map(tuple, one.collect()))
        got2 = sorted(map(tuple, two.collect()))
        assert got1 == got2, f"k={k}: two-phase diverged from single window"
        assert sum(h for _, _, h in got1) == k, f"k={k}: hits don't sum to k"


def test_pps_sample_heavy_row_draws_multiple_hits(spark):
    df = spark.createDataFrame(
        [(1, 1000), (2, 1), (3, 1)], "doc_id long, n_tokens long"
    )
    got = {r.doc_id: r.n_hits for r in pps_systematic_sample(
        df, id_col="doc_id", weight_col="n_tokens", k=10
    ).collect()}
    assert got[1] >= 9  # ~1000/1002 of the mass


def test_entropy_profile_known_distributions(spark):
    rows = [("u", v) for v in range(8)]  # uniform over 8 values
    rows += [("c", 1)] * 10  # constant
    df = spark.createDataFrame(rows, "k string, v long")
    got = {r.k: r for r in grouped_entropy(df, group_keys=["k"], value_col="v").collect()}
    assert got["c"].entropy == 0.0 and got["c"].gini == 0.0
    assert abs(got["u"].entropy - math.log(8)) < 1e-6
    assert abs(got["u"].gini - (1 - 1 / 8)) < 1e-6
    assert got["u"].n_distinct == 8


# ---- round-5 second batch: CMS, HLL rollup, ACF, BFS ----


def test_cms_estimate_upper_bounds_exact_and_merges(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        cms_estimate,
        count_min_sketch,
    )

    rng = random.Random(13)
    vals = [rng.randrange(50) for _ in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = count_min_sketch(df, value_col="v", depth=4, width=64)
    qdf = spark.createDataFrame([(v,) for v in set(vals)], "v long")
    est = {r.v: r.cms_count for r in cms_estimate(sk, qdf, value_col="v", depth=4, width=64).collect()}
    exact = {}
    for v in vals:
        exact[v] = exact.get(v, 0) + 1
    for v, c in exact.items():
        assert est[v] >= c, f"CMS under-counted {v}"
    # mergeability: sketch(A)+sketch(B) cellwise == sketch(A union B)
    half = len(vals) // 2
    a = spark.createDataFrame([(v,) for v in vals[:half]], "v long")
    b = spark.createDataFrame([(v,) for v in vals[half:]], "v long")
    merged = (
        count_min_sketch(a, value_col="v", depth=4, width=64)
        .unionByName(count_min_sketch(b, value_col="v", depth=4, width=64))
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = count_min_sketch(df, value_col="v", depth=4, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_hll_daily_rollup_equals_direct(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        hll_distinct,
        hll_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    rng = random.Random(17)
    rows = [("g", rng.randrange(5), rng.randrange(2000)) for _ in range(5000)]
    df = spark.createDataFrame(rows, "g string, day long, v long")
    direct = hll_distinct(df, group_keys=["g"], value_col="v", p=7).collect()
    rolled = hll_from_registers(
        hll_merge_registers(
            hll_registers(df, group_keys=["g", "day"], value_col="v", p=7),
            group_keys=["g"],
        ),
        group_keys=["g"],
        p=7,
    ).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, rolled))


def test_hll_sliding_distinct_equals_per_window_direct(spark):
    """The sliding register merge must equal hll_distinct computed
    directly on each window's raw rows (mergeability over the window
    partitioning), for every window ending on an observed day — gap
    days get no output row."""
    import datetime as dt

    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        hll_distinct,
        hll_sliding_distinct,
    )

    rng = random.Random(19)
    base = dt.date(2026, 3, 1)
    # 20 active days with a 4-day gap in the middle
    days = [d for d in range(28) if not (10 <= d < 14)]
    rows = [
        (base + dt.timedelta(days=d), rng.randrange(500))
        for d in days
        for _ in range(rng.randint(5, 80))
    ]
    df = spark.createDataFrame(rows, "day date, v long")
    got = {
        r.win_end: (r.n_used, r.d_scaled, r.hll_estimate)
        for r in hll_sliding_distinct(
            df, day_col="day", value_col="v", window_days=7, p=7
        ).collect()
    }
    assert set(got) == {base + dt.timedelta(days=d) for d in days}
    for d in days:
        end = base + dt.timedelta(days=d)
        lo = end - dt.timedelta(days=6)
        wdf = df.where((F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(end)))
        direct = hll_distinct(
            wdf.withColumn("g", F.lit(1)), group_keys=["g"], value_col="v", p=7
        ).collect()[0]
        assert got[end] == (direct.n_used, direct.d_scaled, direct.hll_estimate), end


def test_autocorr_known_series(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        grouped_autocorr,
    )

    # strict alternation has r1 ~ -1 at even n; a constant-increment
    # ramp has r1 close to +1
    alt = [("alt", t, float(1 if t % 2 else -1)) for t in range(40)]
    ramp = [("ramp", t, float(t)) for t in range(40)]
    df = spark.createDataFrame(alt + ramp, "g string, t long, x double")
    got = {r.g: r for r in grouped_autocorr(
        df, group_keys=["g"], order_col="t", value_col="x", lags=(1, 2)
    ).collect()}
    assert got["alt"].r1 < -0.9 and got["alt"].r2 > 0.9
    assert got["ramp"].r1 > 0.9
    assert got["alt"].n_obs == 40


def test_bfs_levels_matches_brute_force(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.graph import bfs_levels

    rng = random.Random(19)
    n = 60
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(150)}
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.hop for r in bfs_levels(edf, sources=seed, max_hops=4).collect()}
    # brute-force min-hop by repeated relaxation
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    want, frontier = {0: 0}, [0]
    for hop in range(1, 5):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in want:
                    want[v] = hop
                    nxt.append(v)
        frontier = nxt
    assert got == want


def test_kmv_estimate_exact_below_k_and_close_above(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        kmv_estimate,
        kmv_sketch,
    )

    rows = [("small", v) for v in range(50)] + [("big", v) for v in range(5000)]
    df = spark.createDataFrame(rows, "g string, v long")
    sk = kmv_sketch(df, group_keys=["g"], value_col="v", k=256)
    est = {r.g: r for r in kmv_estimate(sk, group_keys=["g"], k=256).collect()}
    assert est["small"].kmv_estimate == 50.0  # below k: exact
    assert abs(est["big"].kmv_estimate - 5000) / 5000 < 0.20  # ~1/sqrt(k)


def test_kmv_overlap_calibrates_on_known_sets(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        kmv_overlap,
        kmv_sketch,
    )

    # |A|=3000, |B|=3000, |A∩B|=1000 (values 2000..2999 shared)
    rows = [("a", v) for v in range(3000)] + [("b", v) for v in range(2000, 5000)]
    df = spark.createDataFrame(rows, "g string, v long")
    sk = kmv_sketch(df, group_keys=["g"], value_col="v", k=256)
    a = sk.where(F.col("g") == "a").select("__h")
    b = sk.where(F.col("g") == "b").select("__h")
    r = kmv_overlap(a, b, k=256).collect()[0]
    assert abs(r.union_estimate - 5000) / 5000 < 0.20
    assert abs(r.jaccard_est - 0.2) < 0.08
    assert abs(r.intersection_est - 1000) / 1000 < 0.40


def test_chi_square_independent_and_dependent(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        chi_square_crosstab,
    )

    # perfectly independent 2x2 with equal margins -> chi2 == 0
    ind = [("r1", "c1")] * 10 + [("r1", "c2")] * 10 + [("r2", "c1")] * 10 + [("r2", "c2")] * 10
    r = chi_square_crosstab(
        spark.createDataFrame(ind, "r string, c string"), row_col="r", col_col="c"
    ).collect()[0]
    assert r.chi2 == 0.0 and r.dof == 1 and r.n == 40
    # perfect dependence (diagonal) -> chi2 == n
    dep = [("r1", "c1")] * 20 + [("r2", "c2")] * 20
    r2 = chi_square_crosstab(
        spark.createDataFrame(dep, "r string, c string"), row_col="r", col_col="c"
    ).collect()[0]
    assert r2.chi2 == 40.0


def test_skyline_and_pps_have_no_global_data_window(spark):
    """Scale gate (the q76 rule applied to the round-5 two-phase ops):
    every window over DATA rows must be partitioned by __pid; the only
    unpartitioned windows allowed are the metadata-sized ones over
    per-partition subtotals (ordered by __pid)."""
    from nyc_taxi_data_prediction_pyspark_spark.plans import explain

    pts = spark.createDataFrame(
        [(i % 37, i % 11) for i in range(200)], "cost long, quality long"
    )
    specs = explain.window_specs(
        mining.skyline_2d(pts, minimize="cost", maximize="quality", num_partitions=8)
    )
    data_specs = [s for s in specs if "quality" in s or "cost" in s]
    assert data_specs, "expected a window over the sort key"
    assert all("__pid" in s for s in data_specs), data_specs

    docs = spark.createDataFrame(
        [(i, 10 + i % 5) for i in range(200)], "doc_id long, n_tokens long"
    )
    specs = explain.window_specs(
        pps_systematic_sample(
            docs, id_col="doc_id", weight_col="n_tokens", k=10, num_partitions=8
        )
    )
    data_specs = [s for s in specs if "__skey" in s]
    assert data_specs, "expected a window over the md5 sort key"
    assert all("__pid" in s for s in data_specs), data_specs


def test_kcore_matches_brute_force_fixed_point(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.graph import kcore_peel

    rng = random.Random(23)
    n = 40
    und = {tuple(sorted((rng.randrange(n), rng.randrange(n)))) for _ in range(120)}
    und = {(a, b) for a, b in und if a != b}
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    edf = spark.createDataFrame(edges, "src long, dst long")
    # brute-force peel to the true fixed point
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    K = 4
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < K}
        if not drop:
            break
        alive -= drop
    # enough rounds to converge -> exact k-core
    r = kcore_peel(edf, k=K, rounds=10, assume_distinct=True).collect()[0]
    assert r.converged
    assert r.n_nodes == len(alive)
    assert r.node_checksum == (sum(alive) if alive else None)


def test_correlation_matrix_perfect_and_anti(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        correlation_matrix,
    )

    rows = [(float(i), 2.0 * i + 1, -3.0 * i, float(i * i)) for i in range(50)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    got = {
        (r.var_x, r.var_y): r.corr
        for r in correlation_matrix(df, measures=["a", "b", "c", "d"]).collect()
    }
    assert got[("a", "b")] == 1.0  # exact linear
    assert got[("a", "c")] == -1.0
    assert 0.9 < got[("a", "d")] < 1.0  # quadratic: strong but < 1


def test_clamped_running_balance_matches_python_fold(spark):
    import datetime as dt

    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        clamped_running_balance,
    )

    rng = random.Random(29)
    base = dt.datetime(2026, 1, 1)
    rows = []
    for uid in range(6):
        for i in range(rng.randint(1, 40)):
            rows.append(
                (uid, i, base + dt.timedelta(minutes=rng.randint(0, 500)),
                 round(rng.uniform(-50, 50), 2))
            )
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, delta double")
    got = {
        r.user_id: (r.n_events, r.final_bal, r.max_bal, r.n_clamps)
        for r in clamped_running_balance(
            df, partition=["user_id"], ts="ts", delta_col="delta",
            order_tiebreak=["event_id"], scale=2,
        ).collect()
    }
    from collections import defaultdict

    per = defaultdict(list)
    for uid, eid, ts, d in rows:
        per[uid].append((ts, eid, round(d * 100)))
    for uid, evs in per.items():
        bal = maxb = clamps = 0
        for _, _, d in sorted(evs):
            nb = bal + d
            if nb < 0:
                bal = 0
                clamps += 1
            else:
                bal = nb
            maxb = max(maxb, bal)
        assert got[uid] == (len(evs), bal, maxb, clamps), uid


def test_clamped_running_balance_null_delta_fails_fast(spark):
    """A NULL delta must raise, not silently NULL the fold's carried
    state for the rest of the group (ADVICE r5 — the ivm.apply_agg_deltas
    malformed-input rule applied to the ledger fold)."""
    import datetime as dt

    import pytest

    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        clamped_running_balance,
    )

    base = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(1, 0, base, 5.0), (1, 1, base + dt.timedelta(minutes=1), None)],
        "user_id long, event_id long, ts timestamp, delta double",
    )
    with pytest.raises(Exception, match="NULL delta"):
        clamped_running_balance(
            df, partition=["user_id"], ts="ts", delta_col="delta",
            order_tiebreak=["event_id"], scale=2,
        ).collect()


def test_naive_bayes_learns_separable_classes(spark):
    from nyc_taxi_data_prediction_pyspark_spark.ml import naive_bayes as nb

    rng = random.Random(31)
    vocab = {"pos": ["great", "good", "love", "nice"], "neg": ["bad", "awful", "hate", "poor"]}
    rows = []
    for i in range(200):
        lab = "pos" if i % 2 == 0 else "neg"
        words = [vocab[lab][rng.randrange(4)] for _ in range(8)]
        words += [f"neutral{rng.randrange(20)}" for _ in range(4)]
        rows.append((i, " ".join(words), lab))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = df.where(F.col("doc_id") % 5 != 0)
    test = df.where(F.col("doc_id") % 5 == 0)
    like, priors = nb.nb_train(train, label_col="lang")
    pred = nb.nb_predict(test, like, priors, label_col="lang")
    joined = test.select("doc_id", "lang").join(pred, "doc_id").collect()
    acc = sum(1 for r in joined if r.lang == r.pred) / len(joined)
    assert acc == 1.0  # fully separable vocabularies


def test_naive_bayes_empty_document_gets_prior_prediction(spark):
    """A test doc that tokenizes to zero tokens must still get a row
    (ADVICE r5): its score is ln_prior for every class, so the
    prediction is the prior argmax — here the majority class — with
    ties broken to the smallest label."""
    from nyc_taxi_data_prediction_pyspark_spark.ml import naive_bayes as nb

    train = spark.createDataFrame(
        [(i, "alpha beta", "b") for i in range(6)]
        + [(10 + i, "gamma delta", "a") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(100, ""), (101, "   "), (102, "alpha beta")],
        "doc_id long, text string",
    )
    like, priors = nb.nb_train(train, label_col="lang")
    got = {
        r.doc_id: r.pred
        for r in nb.nb_predict(test, like, priors, label_col="lang").collect()
    }
    assert set(got) == {100, 101, 102}  # no dropped rows
    assert got[100] == "b" and got[101] == "b"  # prior argmax (6 b vs 4 a)
    assert got[102] == "b"


def test_containment_pairs_complete_vs_brute_force(spark):
    """Asymmetric prefix filtering must be complete: quotes planted
    inside long articles are found in the contained->container
    direction even when Jaccard would be far below threshold."""
    rng = random.Random(37)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(15):
        art = [vocab[rng.randrange(60)] for _ in range(80)]
        docs.append((i, " ".join(art)))
        if i % 3 == 0:  # a quote: a 10-token span of the article
            s = rng.randrange(0, 60)
            docs.append((500 + i, " ".join(art[s : s + 10])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            df, text_col="text", id_col="doc_id", n=3, threshold=0.6
        ).collect()
    }
    # brute force over 3-gram shingle sets
    def shingles(text):
        ws = text.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {d: shingles(t) for d, t in docs if len(t.split()) >= 3}
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and sa:
                c = round(len(sa & sb) / len(sa), 6)
                if c >= 0.6:
                    want[(a, b)] = c
    assert got == want
    assert any(k[0] >= 500 for k in want), "fixture planted no quotes"


def test_containment_pairs_hostile_universal_container(spark):
    """Round-5 verdict probe: one document CONTAINS every other (the
    worst-case container — its token set is the whole corpus). The
    full-side index has no length filter by design; completeness and
    exactness must survive, and every small doc must report the giant
    as its container at containment 1.0. The candidate volume stays
    |prefix|-bounded: only the CONTAINED side's rare-first prefixes
    probe the index, and the giant's posting rows are probed once per
    small-doc prefix token, not once per token occurrence."""
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(400)]
    smalls = []
    for i in range(40):
        smalls.append((i, " ".join(rng.sample(vocab, 12))))
    giant_text = " ".join(t for _, t in smalls)  # concatenation of all
    docs = smalls + [(999, giant_text)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            df, text_col="text", id_col="doc_id", n=3, threshold=0.99
        ).collect()
    }
    # every small doc's INTERNAL shingles (not crossing concat seams)
    # are in the giant -> containment(small in giant) == 1.0
    for i, _ in smalls:
        assert got.get((i, 999)) == 1.0, i
    # and nothing claims to contain the giant (its set is the union)
    assert not any(b != 999 and a == 999 for a, b in got)


def test_bigram_nll_matches_python_reference(spark):
    """The add-one bigram model must equal a sequential Python refit
    (counts, smoothing, quantization), scrambled word order must score
    WORSE than natural order under the corpus model, and <2-token docs
    are absent."""
    import math
    from collections import Counter
    from decimal import Decimal

    from nyc_taxi_data_prediction_pyspark_spark.operators.text import bigram_nll

    rng = random.Random(43)
    base = ["the cat sat on the mat", "the dog sat on the rug",
            "the cat ran to the dog", "a bird flew over the mat"]
    docs = [(i, base[i % 4]) for i in range(20)]
    scrambled = base[0].split()
    rng.shuffle(scrambled)
    docs += [(100, " ".join(scrambled)), (101, "single"), (102, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_nll) for r in bigram_nll(df).collect()}
    assert 101 not in got and 102 not in got  # no bigrams -> no row

    # python refit
    grams = []
    per_doc = {}
    for d, t in docs:
        ws = t.lower().split()
        gs = list(zip(ws, ws[1:]))
        per_doc[d] = gs
        grams += gs
    cbg = Counter(grams)
    cpre = Counter(g[0] for g in grams)
    v = len(cpre)
    for d, gs in per_doc.items():
        if not gs:
            continue
        q = [Decimal(repr(-math.log((cbg[g] + 1) / (cpre[g[0]] + v)))).quantize(Decimal("1e-12")) for g in gs]
        want = round(float(sum(q)) / len(gs), 6)
        assert got[d][0] == len(gs)
        assert abs(got[d][1] - want) < 2e-6, d
    # order sensitivity: the scrambled doc scores worse than its source
    assert got[100][1] > got[0][1]


def test_deterministic_shuffle_is_partitioning_invariant(spark):
    """(shard, pos) must be a pure function of (salt, id): identical
    under repartitioning and row-order permutation, dense 0..n_i-1 per
    shard, different under a different salt."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.text import (
        deterministic_shuffle,
    )

    ids = list(range(500))
    df1 = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    df2 = spark.createDataFrame([(i,) for i in reversed(ids)], "doc_id long").repartition(13)
    a = {r.doc_id: (r.shard, r.pos) for r in deterministic_shuffle(df1, shards=8).collect()}
    b = {r.doc_id: (r.shard, r.pos) for r in deterministic_shuffle(df2, shards=8).collect()}
    assert a == b
    # dense positions per shard
    from collections import defaultdict

    per = defaultdict(list)
    for s, p in a.values():
        per[s].append(p)
    assert set(per) <= set(range(8))
    for s, ps in per.items():
        assert sorted(ps) == list(range(len(ps))), s
    # a different salt is an independent epoch order
    c = {r.doc_id: (r.shard, r.pos) for r in deterministic_shuffle(df1, shards=8, salt="epoch-2").collect()}
    assert c != a
    assert sum(1 for i in ids if a[i] != c[i]) > 400  # nearly everything moves


def test_mixture_interleave_matches_python_wfq(spark):
    """The merged order must equal a sequential weighted-fair-queueing
    replay (md5 within-source order, finish-time merge), rates in the
    first half must track the weights, and unweighted sources are
    excluded."""
    import hashlib

    from nyc_taxi_data_prediction_pyspark_spark.operators.text import (
        mixture_interleave,
    )

    rows = (
        [(i, "web") for i in range(300)]
        + [(1000 + i, "books") for i in range(150)]
        + [(2000 + i, "junk") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string").repartition(7)
    w = {"web": 2.0, "books": 1.0}
    got = {
        r.doc_id: (r.src, r.global_pos)
        for r in mixture_interleave(
            df, source_col="src", id_col="doc_id", weights=w, salt="s1"
        ).collect()
    }
    assert not any(s == "junk" for s, _ in got.values())
    assert sorted(p for _, p in got.values()) == list(range(450))

    def key(i):
        return int(hashlib.md5(f"s1{i}".encode()).hexdigest()[:15], 16)

    sched = []
    for src in ("web", "books"):
        ids = sorted((i for i, s in rows if s == src), key=lambda i: (key(i), i))
        for r, i in enumerate(ids, start=1):
            sched.append((r / w[src], src, i))
    sched.sort()
    want = {i: (s, p) for p, (_, s, i) in enumerate(sched)}
    assert got == want
    # rate check: web ~ 2/3 of any large prefix
    first = [s for s, p in sorted(got.values(), key=lambda t: t[1])[:225]]
    frac_web = first.count("web") / len(first)
    assert 0.6 < frac_web < 0.73


# ---------------------------------------------------------------- property

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st


@pytest.fixture(scope="session")
def spark_h(spark):
    return spark


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(1, 10_000), min_size=1, max_size=50),
    st.sampled_from([1, 3, 17, 100, 555]),
)
def test_pps_property_hits_sum_to_k(spark_h, weights, k):
    """For ARBITRARY positive weights and k: Σ n_hits == k exactly, no
    hit count exceeds ceil(k·w/T)+1, and two-phase == single-window."""
    df = spark_h.createDataFrame(
        list(enumerate(weights)), "doc_id long, n_tokens long"
    )
    one = sorted(map(tuple, pps_systematic_sample(
        df, id_col="doc_id", weight_col="n_tokens", k=k, two_phase=False
    ).collect()))
    two = sorted(map(tuple, pps_systematic_sample(
        df, id_col="doc_id", weight_col="n_tokens", k=k, two_phase=True, num_partitions=4
    ).collect()))
    assert one == two
    assert sum(h for _, _, h in one) == k
    tot = sum(weights)
    for _, w, h in one:
        assert h <= -(-k * w // tot) + 1


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=25,
    ),
    st.sets(st.integers(0, 7), min_size=1, max_size=3),
)
def test_personalized_pagerank_property(spark_h, raw_edges, seeds):
    """For ARBITRARY small digraphs and seed sets: the distributed
    personalized fixed point equals the sequential integer reference,
    non-seed nodes with no in-path from a seed hold rank 0, and total
    rank never exceeds SCALE (floor division only loses mass)."""
    from nyc_taxi_data_prediction_pyspark_spark.operators import graph
    from test_graph_rank import _ppr_reference  # tests dir is on sys.path (no __init__.py layout)

    edges = sorted({(f"n{a}", f"n{b}") for a, b in raw_edges if a != b})
    if not edges:
        edges = [("n0", "n1")]
    seed_names = sorted(f"n{s}" for s in seeds)
    df = spark_h.createDataFrame(edges, ["src", "dst"])
    sdf = spark_h.createDataFrame([(s,) for s in seed_names], ["node"])
    got = {
        r["node"]: r["pr"]
        for r in graph.pagerank_fixedpoint(
            df, sources=sdf, iters=3, assume_distinct=True
        ).collect()
    }
    assert got == _ppr_reference(edges, seed_names, iters=3)
    assert sum(got.values()) <= graph.SCALE


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(-2_000, 2_000)),
        min_size=1,
        max_size=40,
    )
)
def test_clamped_balance_property(spark_h, events):
    """For ARBITRARY (offset-µs, delta-cent) ledgers: the distributed
    fold equals the sequential Python fold, final/max balances are
    non-negative, and max >= final."""
    import datetime as dt

    from nyc_taxi_data_prediction_pyspark_spark.operators.windows import (
        clamped_running_balance,
    )

    base = dt.datetime(2026, 1, 1)
    rows = [
        (0, i, base + dt.timedelta(microseconds=off), d / 100.0)
        for i, (off, d) in enumerate(events)
    ]
    df = spark_h.createDataFrame(
        rows, "g long, event_id long, ts timestamp, delta double"
    )
    r = clamped_running_balance(
        df, partition=["g"], ts="ts", delta_col="delta",
        order_tiebreak=["event_id"], scale=2,
    ).collect()[0]
    # exact ordering: (ts, event_id) like the operator
    seq = sorted(((off, i, d) for i, (off, d) in enumerate(events)))
    bal = maxb = clamps = 0
    for _, _, d in seq:
        nb = bal + d
        if nb < 0:
            bal = 0
            clamps += 1
        else:
            bal = nb
        maxb = max(maxb, bal)
    assert (r.n_events, r.final_bal, r.max_bal, r.n_clamps) == (
        len(events), bal, maxb, clamps
    )
    assert r.final_bal >= 0 and r.max_bal >= r.final_bal


def test_event_transitions_matches_python_replay(spark, sf_dir):
    from nyc_taxi_data_prediction_pyspark_spark.catalog import load

    events = load(spark, sf_dir, "events")
    got = [
        (r["src_type"], r["dst_type"], r["n_transitions"], r["prob"])
        for r in mining.event_transitions(events).collect()
    ]

    rows = events.select("user_id", "ts", "event_id", "event_type").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["event_type"]))
    from collections import Counter

    counts = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    totals = Counter()
    for (a, _b), n in counts.items():
        totals[a] += n
    want = sorted(
        (a, b, n, n / totals[a]) for (a, b), n in counts.items()
    )
    assert got == want
    # row-normalization: per-src probabilities sum to ~1
    per_src = Counter()
    for a, _b, _n, p in got:
        per_src[a] += p
    assert all(abs(s - 1.0) < 1e-9 for s in per_src.values())


def test_fd_profile_detects_violations(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.cleaning import fd_profile

    df = spark.createDataFrame(
        [
            (1, "a", "x"),
            (2, "a", "x"),
            (3, "b", "x"),
            (4, "b", "y"),  # b -> {x, y}: violates k2 -> v
            (5, "c", "z"),
        ],
        "k1 int, k2 string, v string",
    )
    rows = {r["fd"]: r for r in fd_profile(df, [(("k1",), "v"), (("k2",), "v")]).collect()}
    assert rows["k1->v"]["n_lhs_groups"] == 5
    assert rows["k1->v"]["n_violating_groups"] == 0
    assert rows["k1->v"]["max_rhs_per_group"] == 1
    assert rows["k2->v"]["n_lhs_groups"] == 3
    assert rows["k2->v"]["n_violating_groups"] == 1
    assert rows["k2->v"]["max_rhs_per_group"] == 2


def test_rfm_segments_equals_window_ntile(spark):
    """The composed two-phase-rank + closed-form NTILE grid must equal
    the naive single-window NTILE(5) computation row for row."""
    import datetime as dt

    rng = random.Random(31)
    rows = []
    oid = 0
    for cust in range(1, 41):
        for _ in range(rng.randrange(1, 8)):
            oid += 1
            rows.append(
                (oid, cust, dt.datetime(2026, 1, 1) + dt.timedelta(days=rng.randrange(200)),
                 round(rng.random() * 1000, 2))
            )
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    got = {
        (r.r_score, r.f_score, r.m_score): (r.n_customers, r.tot_orders, r.monetary_sum)
        for r in mining.rfm_segments(df, k=5).collect()
    }

    # naive reference: plain window NTILE over the same total orders
    from pyspark.sql import Window as W

    per = df.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    maxd = df.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    per = per.crossJoin(F.broadcast(maxd)).withColumn(
        "rec", F.datediff("maxd", "last").cast("bigint")
    )
    ref = per.select(
        F.ntile(5).over(W.orderBy((-F.col("rec")).asc(), F.col("o_custkey").asc())).alias("r_score"),
        F.ntile(5).over(W.orderBy(F.col("freq").asc(), F.col("o_custkey").asc())).alias("f_score"),
        F.ntile(5).over(W.orderBy(F.col("mon").asc(), F.col("o_custkey").asc())).alias("m_score"),
        "freq",
        "mon",
    )
    want = {
        (r.r_score, r.f_score, r.m_score): (r.n, r.t, r.m)
        for r in ref.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("freq").cast("bigint").alias("t"),
            F.sum("mon").cast("double").alias("m"),
        )
        .collect()
    }
    assert got == want


def test_survival_curve_hand_computed_km(spark):
    """Crafted cohort with known Kaplan-Meier values, censoring
    included. Day grain (unit = 86400e6 us), churn gap 1 day:
    corpus max day = day 9. Entities (first, last):
      A (0, 2) churned  dur 3      D (0, 9) censored dur 10
      B (0, 2) churned  dur 3      E (5, 9) censored dur 5
      C (0, 4) churned  dur 5
    Risk sets (ascending dur): t=3: n=5,d=2 -> S=0.6
      t=5: n=3 (A,B gone), d=1 -> S=0.6*(1-1/3)=0.4  (E censored at 5
      counts AT RISK at 5, leaves after)"""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for ent, (f, l) in {"A": (0, 2), "B": (0, 2), "C": (0, 4), "D": (0, 9), "E": (5, 9)}.items():
        for d in (f, l):
            eid += 1
            rows.append((ent, eid, base + dt.timedelta(days=d)))
    df = spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp")
    out = [
        (r.t_units, r.n_at_risk, r.d_churned, r.survival)
        for r in mining.survival_curve(
            df, entity_col="user_id", ts_col="ts",
            unit_micros=86_400_000_000, churn_gap_units=1,
        ).collect()
    ]
    assert out == [(3, 5, 2, 0.6), (5, 3, 1, 0.6 * (1 - 1 / 3))]


def test_ab_test_wilson_reference_math(spark):
    import datetime as dt
    import hashlib
    import math

    base = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 101):
        eid += 1
        rows.append((eid, u, base, "view"))
        if u % 3 == 0:  # every third user converts
            eid += 1
            rows.append((eid, u, base + dt.timedelta(minutes=1), "purchase"))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = {r.arm: r for r in mining.ab_test_report(
        df, user_col="user_id", type_col="event_type",
        conversion_type="purchase", salt="ab1",
    ).collect()}

    # python replay of the md5 split + Wilson interval
    def arm_of(u):
        h = int(hashlib.md5(f"ab1:{u}".encode()).hexdigest()[:15], 16)
        return "A" if h % 2 == 0 else "B"

    for arm in ("A", "B"):
        users = [u for u in range(1, 101) if arm_of(u) == arm]
        conv = [u for u in users if u % 3 == 0]
        n, c = len(users), len(conv)
        r = out[arm]
        assert (r.n_users, r.n_conversions) == (n, c)
        p = c / n
        z2 = 1.96 * 1.96
        center = p + z2 / (2.0 * n)
        half = 1.96 * math.sqrt((p * (1.0 - p)) / n + z2 / (4.0 * n * n))
        denom = 1.0 + z2 / n
        assert r.rate == p
        assert abs(r.wilson_lo - (center - half) / denom) < 1e-12
        assert abs(r.wilson_hi - (center + half) / denom) < 1e-12
        assert r.wilson_lo < p < r.wilson_hi


def test_psi_drift_zero_when_identical_and_large_when_shifted(spark):
    import datetime as dt

    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        population_stability,
    )

    base = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    # type "stable": identical value pattern in both halves -> PSI 0
    # type "shifted": second half values moved up by 100 -> PSI large
    for half in (0, 1):
        for i in range(200):
            eid += 1
            ts = base + dt.timedelta(hours=half * 1000 + i)
            rows.append((eid, ts, "stable", float(i % 50)))
            eid += 1
            rows.append((eid, ts, "shifted", float(i % 50 + half * 100)))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    out = {r.event_type: r for r in population_stability(
        df, group_keys=["event_type"], value_col="value", ts_col="ts", n_buckets=10
    ).collect()}
    assert out["stable"].n_first == out["stable"].n_second == 200
    assert out["stable"].psi == 0.0       # identical shares, smoothing included
    assert out["shifted"].psi > 1.0       # total bucket displacement


def test_psi_drift_surfaces_brand_new_group(spark):
    """A group with ZERO first-half rows (brand-new in the second
    half — the purest drift signal) must be EMITTED with n_first=0
    and NULL psi, not silently dropped by the cuts join (round-6
    advice)."""
    import datetime as dt

    from nyc_taxi_data_prediction_pyspark_spark.operators.aggregates import (
        population_stability,
    )

    base = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for half in (0, 1):
        for i in range(100):
            eid += 1
            ts = base + dt.timedelta(hours=half * 1000 + i)
            rows.append((eid, ts, "old", float(i % 50)))
    # "novel" appears strictly AFTER every old row — the global type-7
    # median (300 rows -> inside old's second block) leaves it with
    # zero first-half rows
    for i in range(100):
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=3000 + i), "novel", float(i)))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r.event_type: r for r in population_stability(
        df, group_keys=["event_type"], value_col="value", ts_col="ts", n_buckets=10
    ).collect()}
    assert set(out) == {"old", "novel"}
    assert out["novel"].n_first == 0
    assert out["novel"].n_second == 100
    assert out["novel"].psi is None
    # the pre-existing group still scores normally (the global median
    # shifts because of the novel rows, so only shape is asserted)
    assert out["old"].n_first > 0 and out["old"].psi is not None


# ---------------------------------------------------------------- ri_audit


def test_ri_audit_counts_orphans_and_nulls(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.cleaning import ri_audit

    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    out = ri_audit([("edge", child, "fk", parent, "pk")]).collect()
    assert len(out) == 1
    r = out[0]
    assert r.child_rows == 4  # non-null keys
    assert r.null_keys == 1
    assert r.distinct_keys == 3  # {1, 2, 99}
    assert r.orphan_rows == 1 and r.orphan_keys == 1  # fk=99


def test_ri_audit_clean_edge_is_all_zero_orphans(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.cleaning import ri_audit

    child = spark.createDataFrame([Row(fk=i % 3) for i in range(9)])
    parent = spark.createDataFrame([Row(pk=i) for i in range(3)])
    r = ri_audit([("e", child, "fk", parent, "pk")]).collect()[0]
    assert r.orphan_rows == 0 and r.orphan_keys == 0 and r.null_keys == 0


# ---------------------------------------------------------------- skew_report


def test_skew_report_hot_key_math(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.skew import skew_report

    # key 'hot' has 90 rows, 'a'..'j' one each: n=100, keys=11, max=90
    rows = [Row(k="hot")] * 90 + [Row(k=c) for c in "abcdefghij"]
    df = spark.createDataFrame(rows)
    r = skew_report([("t", df, "k")], parallelism=10).collect()[0]
    assert (r.n_rows, r.n_keys, r.max_cnt, r.top_key) == (100, 11, 90, "hot")
    assert r.skew_ratio == round(90 * 11 / 100, 6)
    # ceil(90 * 10 / 100) = 9 salt buckets
    assert r.salt_buckets == 9


def test_skew_report_uniform_key_needs_no_salt(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.skew import skew_report

    df = spark.createDataFrame([Row(k=i % 50) for i in range(500)])
    r = skew_report([("u", df, "k")], parallelism=32).collect()[0]
    assert r.max_cnt == 10 and r.salt_buckets == 1 and r.skew_ratio == 1.0


def test_skew_report_top_key_tie_breaks_to_min_string(spark):
    from pyspark.sql import Row
    from nyc_taxi_data_prediction_pyspark_spark.operators.skew import skew_report

    df = spark.createDataFrame([Row(k="b"), Row(k="b"), Row(k="a"), Row(k="a")])
    r = skew_report([("t", df, "k")]).collect()[0]
    assert r.top_key == "a"
