"""Iterative graph algorithms as DataFrame loops (north-star extension;
same family as dedup.connected_components, dedup.py:185).

PageRank here is FIXED-POINT INTEGER PageRank: ranks live in integer
pico-units of total mass 1.0 (``SCALE`` = 10^12) and every step uses
floor division, so the result is bit-identical on any engine — an
unrolled SQL oracle can value-check an *iterative* algorithm, which
double arithmetic (order-dependent float sums) cannot. The verdictable
property this buys: q29-style "iterative ⇒ rows-only" does NOT have to
hold when the recurrence is expressed in exact integer arithmetic.

Scale posture (100 TB / 10^9-node graphs):
- the (src, dst, deg) frame is built ONCE (edges ⋈ out-degrees),
  hash-partitioned on src and cached — InMemoryTableScan preserves
  that HashPartitioning in its outputPartitioning, so each
  iteration's join re-shuffles only the |V|-sized rank frame, never
  the |E|-sized edge frame;
- each iteration is therefore one |V| shuffle + one aggregation keyed
  on dst — O(|E|) scan work off the cache, no driver data motion;
- rank state is one row per node (|V|, not |E|);
- ``localCheckpoint`` every ``_TRUNCATE_EVERY`` (4) iterations
  truncates lineage so the plan stays O(K) however long the
  fixed-point runs (the connected-components idiom); truncating every
  iteration measured 12.1 s vs 4.0 s on q109;
- the single fused setup sum (|V|, or |S| for a seed set) is
  quantizer-class metadata (one scalar), used only to size the
  teleport constant;
- every cached frame lives in one ``_cache._cached`` block and is
  released on every exit, errors included.

Dangling nodes (no out-edges) leak their mass — the standard "leaky"
variant; callers that need conservation should symmetrize the edge
set (as q109 does), which guarantees every node has out-degree ≥ 1.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, functions as F

from ._cache import _cached

SCALE = 1_000_000_000_000  # pico-units: sum of initial ranks == SCALE
# PageRank lineage truncation period: a localCheckpoint every iteration
# measured 12.1 s vs 4.0 s without (q109 trade graph, sf0.1, min-of-3).
_TRUNCATE_EVERY = 4


def pagerank_fixedpoint(
    edges: DataFrame,
    *,
    sources: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-point PageRank over the seed set S, all in BIGINT floor
    division. Returns (node, pr) — pr in pico-units.

        pr_0(v)     = (SCALE div |S|) · [v ∈ S]
        pr_{k+1}(v) = [v ∈ S]·(((100-d)·(SCALE div |S|)) div 100)
                      + (d·Σ_{u→v} pr_k(u) div deg(u)) div 100

    ``sources=None`` makes every node a seed (S = V): the global
    recurrence, with teleport = ((100−d)·(SCALE div N)) div 100.
    A 1-column ``sources`` frame of seed node ids gives personalized
    (topic-sensitive) PageRank — ALL teleport mass returns to the seed
    set, the similarity-to-a-seed-set ranking recommender /
    related-entity queries use (Haveliwala, WWW'02). Seeds with no
    edges are unioned into the node set and keep their teleport mass;
    the seed flag rides the cached nodes frame (one hash join at build
    time, zero per iteration). Raises ``ValueError`` when the node set
    or the seed set is empty (no rank mass to spread).

    ``assume_distinct=True`` skips the defensive edge dedup (one full
    |E| shuffle) when the caller guarantees edge uniqueness — e.g. it
    built the edge set from a ``.distinct()`` pair frame, as q109 does.

    Lineage is truncated every ``_TRUNCATE_EVERY`` iterations, not
    every iteration: on a 3-iteration run the per-iteration block
    storage traffic IS the query, and a depth-K lineage (K·2 joins + K
    aggs) is well inside Catalyst's comfort zone. The final frame is
    always forced before the caches are released."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    with ExitStack() as held:
        # Transient edge cache: nodes, outdeg and fanout all consume the
        # (possibly expensive) upstream edge plan — without this cache
        # each build re-runs it from the source. It is released as soon
        # as the durable frames are forced, so peak extra storage is one
        # |E| pass during setup, not for the iteration phase.
        with _cached(e) as e:
            nodes = e.select(F.col("src").alias("node")).union(
                e.select(F.col("dst").alias("node"))
            )
            if sources is None:
                is_src = F.lit(True)
                nodes = nodes.distinct()
            else:
                is_src = F.col("__is_src")
                s = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
                nodes = (
                    nodes.union(s)
                    .distinct()
                    .join(s.withColumn("__is_src", F.lit(True)), "node", "left")
                    .select("node", F.coalesce("__is_src", F.lit(False)).alias("__is_src"))
                )
            nodes = held.enter_context(_cached(nodes))
            outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            # (src, dst, deg) built once, hash-partitioned on the probe
            # key and cached: the per-iteration join then re-shuffles only
            # the rank frame (|V| rows) — the cached scan keeps its
            # HashPartitioning.
            fanout = held.enter_context(
                _cached(e.join(outdeg, "src").repartition("src"))
            )
            # ONE fused setup action: |S| is the sum of the seed flags
            # riding the nodes frame (fanout rows add 0), so a union-agg
            # scan returns the constant AND forces both caches in a
            # single job, before the edge cache is dropped.
            n_seeds = (
                nodes.select(is_src.cast("bigint").alias("__f"))
                .unionByName(fanout.select(F.lit(0).cast("bigint").alias("__f")))
                .agg(F.sum("__f"))
                .collect()[0][0]
            )
        if not n_seeds:
            raise ValueError(
                "pagerank_fixedpoint: "
                + ("empty node set" if sources is None else "empty seed set")
            )
        base = SCALE // n_seeds
        teleport = ((100 - damping_pct) * base) // 100

        pr = nodes.select(
            "node", F.when(is_src, F.lit(base)).otherwise(F.lit(0)).cast("bigint").alias("pr")
        )
        for k in range(iters):
            contrib = (
                fanout.join(pr, fanout["src"] == pr["node"])
                .select(F.col("dst"), F.expr("pr div deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("recv"))
            )
            pr = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
                "node",
                (
                    F.when(is_src, F.lit(teleport)).otherwise(F.lit(0))
                    + F.expr(f"({damping_pct} * coalesce(recv, 0L)) div 100")
                ).cast("bigint").alias("pr"),
            )
            if (k + 1) % _TRUNCATE_EVERY == 0 and (k + 1) < iters:
                pr = pr.localCheckpoint(eager=False)
        return pr.localCheckpoint(eager=True)


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle count of an undirected graph via DEGREE-ORDERED
    orientation — the standard skew-proof formulation (cf. the
    node-iterator++ / forward algorithm, Schank & Wagner 2005).

    Input: one row per undirected edge, either direction, self-loops
    and duplicates tolerated. Each edge is oriented from its
    lower-(degree, id) endpoint to the higher one; a triangle {a,b,c}
    then has EXACTLY one wedge a→b, a→c with b→c closing it, so the
    count is wedge ⋈ closing-edge with no post-division.

    Why degree ordering matters at scale: wedges are generated at the
    wedge apex, and an apex of out-degree d yields d·(d-1)/2 wedges.
    Orienting by degree caps every out-degree at O(sqrt(|E|))
    (a node of degree d keeps only edges toward HIGHER-degree nodes,
    and at most sqrt(|E|) nodes have degree >= sqrt(|E|)) — a
    10^7-degree celebrity node in id-ordering would emit ~10^13
    wedges; in degree-ordering it emits at most |{nodes with larger
    degree}|^2. Three hash joins total, no cross join.
    """
    # canonical undirected edge set (a < b), self-loops dropped;
    # lazily checkpointed — it feeds FOUR plan subtrees (both degree
    # scans, the orientation join, the closing join), which would
    # otherwise each re-run the caller's edge construction
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge toward the (degree, id)-larger endpoint
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        e.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("u"), F.col("o.hi").alias("w"))
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # unordered out-neighbor pairs at the apex, canonicalized by id so
    # the closing lookup is a single EQUI join against the undirected
    # edge set (an OR over both oriented directions would plan as a
    # nested loop)
    wedges = w1.join(w2, (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.w") < F.col("w2.w"))).select(
        F.col("w1.u").alias("u"), F.col("w1.w").alias("x"), F.col("w2.w").alias("y")
    )
    cl = e.alias("cl")
    tri = wedges.join(cl, (F.col("x") == F.col("cl.a")) & (F.col("y") == F.col("cl.b")))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def local_clustering(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 100,
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998):
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) over the undirected simple
    graph — the per-node refinement of ``triangle_count`` (same
    degree-ordered orientation, Schank & Wagner 2005, so the wedge
    fan-out cap and the three-equi-join shape carry over unchanged).

    Each triangle is materialized EXACTLY once as (apex u, x, y) by
    the orientation invariant, then exploded to its three member
    nodes — one extra narrow explode + one map-side-combinable count
    vs the global counter.  deg and tri are exact BIGINTs; lcc is one
    IEEE division rounded to 6, so both engines agree bit-for-bit.

    Returns the top-``k`` nodes with deg >= 2 by (lcc DESC, deg DESC,
    node ASC) as (node, degree, triangles, lcc) — deterministic
    TakeOrdered output, never a full-graph sort."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        e.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("u"), F.col("o.hi").alias("w"))
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2, (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.w") < F.col("w2.w"))
    ).select(F.col("w1.u").alias("u"), F.col("w1.w").alias("x"), F.col("w2.w").alias("y"))
    cl = e.alias("cl")
    tri = wedges.join(cl, (F.col("x") == F.col("cl.a")) & (F.col("y") == F.col("cl.b")))
    per_node = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(per_node, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                (F.lit(2.0) * F.coalesce(F.col("tri"), F.lit(0)).cast("double"))
                / (F.col("deg").cast("double") * (F.col("deg").cast("double") - F.lit(1.0))),
                6,
            ).alias("lcc"),
        )
        .orderBy(F.col("lcc").desc(), F.col("degree").desc(), F.col("node").asc())
        .limit(k)
    )


def bfs_levels(
    edges: DataFrame,
    *,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Bounded-depth BFS: minimum hop distance (<= ``max_hops``) from
    the ``sources`` node set — the reachability/blast-radius primitive
    (supply-chain exposure, fraud-ring neighborhoods).

    Frontier expansion with level-synchronous semantics: each round
    joins the CURRENT frontier (not the visited set) against the edge
    list and anti-joins the visited set, so a node's hop is the FIRST
    round that reaches it — exactly the min-hop definition, and the
    per-round join cost is |frontier|·avg-degree, never |visited|.
    The frontier is localCheckpointed each round (it feeds both the
    next expansion and the visited union — same double-consumer rule
    as pack_documents); the visited set is checkpointed at the end.
    All arithmetic is integer, so the oracle can unroll the same
    rounds as CTEs and value-hash-match (the q109/q142 contract).

    Returns (node, hop), hop in [0, max_hops]."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    frontier = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    frontier = frontier.localCheckpoint(eager=False)
    visited = frontier.withColumn("hop", F.lit(0).cast("int"))
    with _cached(e.repartition("src")) as e:
        for k in range(1, max_hops + 1):
            nxt = (
                e.join(frontier, e["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .localCheckpoint(eager=False)
            )
            visited = visited.union(nxt.withColumn("hop", F.lit(k).cast("int")))
            frontier = nxt
        return visited.localCheckpoint(eager=True)


def kcore_peel(
    edges: DataFrame,
    *,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    "remove every node with degree < k" over an undirected edge set
    (pass both directions, q109-style) — the density filter behind
    community mining and spam-graph pruning. The true k-core is the
    fixed point; bounding the rounds keeps the operator's cost and its
    ORACLE well-defined (the same rounds unroll as CTEs, q162's
    contract), and the ``converged`` flag reports whether the fixed
    point was already reached — at 100 TB you run rounds until it
    flips, checkpointing per round exactly as here.

    Per round: one degree aggregation + two semi-joins restricting
    edges to surviving endpoints; edge frame localCheckpointed so the
    next round's plan starts from materialized state, not a growing
    lineage (no driver action inside the loop). Returns one row:
    (n_nodes, min_node, node_checksum, n_below_k, converged) —
    ``n_below_k`` counts survivors another round would remove, so
    ``converged`` means the bounded peel already reached the true
    k-core.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select(F.col("src").alias("node"))
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "semi")
            .localCheckpoint(eager=False)
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("src").alias("min_node"),
        F.sum("src").cast("bigint").alias("node_checksum"),
        F.sum((F.col("deg") < k).cast("bigint")).alias("n_below_k"),
    ).withColumn("converged", F.col("n_below_k") == 0)


def hits_quotient(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg JACM'99): hub/authority
    scores on a DIRECTED graph, with the classic L2 normalization
    replaced by QUOTIENT normalization — after each half-step the
    scores are floor-divided by q = max(1, Σscores div SCALE), pulling
    the total mass back to ≈SCALE with error < N. sqrt/L2 would drag
    in engine-libm rounding; floor division keeps every value exact
    BIGINT, so an unrolled SQL oracle value-checks the iteration (the
    q109/q142 argument applied to HITS).

        a_{k+1}(v) = (Σ_{u→v} h_k(u)) div q_a
        h_{k+1}(u) = (Σ_{u→v} a_{k+1}(v)) div q_h

    Overflow bound: raw sums ≤ SCALE·max_degree ≈ 1e12·deg — BIGINT-
    safe to deg ~1e6; the quotient step renormalizes before the next
    multiply-free round, so iterations never compound the bound.

    Scale shape: the edge frame is deduped (unless ``assume_distinct``)
    and localCheckpointed ONCE; each iteration is two equi-join +
    aggregation passes keyed on dst then src, plus two 1-row total
    frames broadcast for the quotient — no driver-side data motion.
    Nodes missing a half-step's sum (no in- or no out-edges) carry 0
    for that score, the standard bipartite-HITS behavior. Returns
    (node, hub, auth) over all nodes, zero-filled."""
    if iters < 1:
        raise ValueError("hits_quotient needs iters >= 1 (no authority scores exist before the first half-step)")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # metadata scalar: sizes the initial mass only
    h = nodes.select("node", F.lit(SCALE // max(n, 1)).alias("s"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("s").alias("raw"))
            # double consumer (quotient agg + normalized scores): without
            # truncation each consumer re-runs the |E| join+agg — measured
            # as the q190 job-count explosion (round-13 optimization)
            .localCheckpoint(eager=False)
        )
        qa = a_raw.agg(
            F.greatest(F.expr(f"sum(raw) div {SCALE}L"), F.lit(1)).alias("q")
        )
        a = (
            a_raw.join(F.broadcast(qa), how="cross")  # 1-row quotient
            .select(F.col("dst").alias("node"), F.expr("raw div q").alias("s"))
        )
        h_raw = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("s").alias("raw"))
            .localCheckpoint(eager=False)  # same double-consumer rule
        )
        qh = h_raw.agg(
            F.greatest(F.expr(f"sum(raw) div {SCALE}L"), F.lit(1)).alias("q")
        )
        h = (
            h_raw.join(F.broadcast(qh), how="cross")  # 1-row quotient
            .select(F.col("src").alias("node"), F.expr("raw div q").alias("s"))
        ).localCheckpoint(eager=False)
    return (
        nodes.join(h.withColumnRenamed("s", "hub"), "node", "left")
        .join(a.withColumnRenamed("s", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth"),
        )
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al., Phys. Rev. E 2007), made DETERMINISTIC: every node starts as
    its own label; each round every node adopts the most frequent
    label among its neighbors, ties broken toward the SMALLEST label.
    Synchronous updates + total tie order make the result a pure
    function of the edge set — no RNG, no visit order — so 3 unrolled
    rounds are SQL-checkable (the q109/q162/q167 iterative-oracle
    pattern).

    ``edges`` must be SYMMETRIZED by the caller (as q109 does) —
    propagation follows src→dst rows as given. The argmax is one
    struct MAX over (count, -label): no window, map-side combinable.
    Per round: one |E| join keyed on dst + two aggregations; the label
    frame (|V| rows) is localCheckpointed per round; isolated nodes
    keep their own label via the left join. Returns (node, label)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # hash-partition the edge frame on the per-round join key and CACHE
    # it (round-14, verdict 3b — the pagerank cached-fanout idiom): an
    # InMemoryTableScan preserves its HashPartitioning, so at cluster
    # scale every round's e⋈lab sort-merge join re-shuffles only the
    # |V| label frame, never the |E| edges.  (localCheckpoint would
    # NOT work here: a checkpointed RDD scans as UnknownPartitioning —
    # measured, the SMJ re-shuffled both sides.)  Locally the |V| side
    # broadcasts either way; the one extra setup exchange replaces
    # iters×|E| exchanges at scale.  The cache is dropped after the
    # final labels are eagerly materialized below.
    with _cached(e.repartition("dst")) as e:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        lab = nodes.select("node", F.col("node").alias("label"))
        for _ in range(iters):
            nb = (
                e.join(
                    lab.select(F.col("node").alias("dst"), "label"), "dst"
                )
                .groupBy(F.col("src").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            best = (
                nb.groupBy("node")
                .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("b"))
                .select("node", (-F.col("b.nl")).alias("label"))
            )
            lab = (
                nodes.join(best, "node", "left")
                .select(
                    "node",
                    F.coalesce("label", F.col("node")).cast("bigint").alias("label"),
                )
                .localCheckpoint(eager=False)
            )
        # force the final frame once before the edge cache is released:
        # repeated calls in a long-lived session must not accumulate
        # cached |E| blocks
        return lab.localCheckpoint(eager=True)


def degree_assortativity(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of (out-degree(src), in-degree(dst)) over the directed
    edge list — positive means hubs link to hubs (social nets),
    negative means hubs link to leaves (tech/bipartite nets). One
    number that characterizes a 10^9-edge graph.

    Exactness contract (the correlation_matrix discipline): degrees
    are exact BIGINT counts; the five moment sums (Σx, Σy, Σxy, Σx²,
    Σy²) are exact integer aggregations (BIGINT-safe to deg ~3e4 on
    1e9 edges — beyond that switch the moment casts to DECIMAL(38,0),
    same formula); the coefficient is assembled from the exact moments
    in one double expression, so any engine agrees bit-for-bit.

    Shape: two map-side-combinable degree aggregations, two equi-joins
    back onto the edge list, one global 5-sum aggregate — all linear,
    no windows. Returns one row (n_edges, assortativity); NULL
    coefficient when a degree side is constant (zero variance)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("__dx"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("__dy"))
    j = e.join(outd, "src").join(ind, "dst")
    mom = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dx").alias("sx"),
        F.sum("__dy").alias("sy"),
        F.sum(F.col("__dx") * F.col("__dy")).alias("sxy"),
        F.sum(F.col("__dx") * F.col("__dx")).alias("sxx"),
        F.sum(F.col("__dy") * F.col("__dy")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return mom.select(
        F.col("n").alias("n_edges"),
        F.when(
            (varx > 0) & (vary > 0),
            num.cast("double") / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
        ).alias("assortativity"),
    )


def ra_link_prediction(
    edges: DataFrame,
    *,
    left: str,
    right: str,
    deg_cap: int = 64,
    unit: int = 10**9,
    k: int = 20,
) -> DataFrame:
    """Resource-Allocation link prediction over a bipartite projection
    (Zhou, Lü & Zhang, Eur. Phys. J. B 2009 — the RA index; the
    integer-weight cousin of Adamic–Adar): score every LEFT-node pair
    by the resources flowing through their shared RIGHT neighbors,
        RA(a, b) = Σ_{r ∈ Γ(a) ∩ Γ(b)} 1 / deg(r),
    the classic "which suppliers are interchangeable / which items are
    co-purchased" collaborative signal. Returns the top-k pairs by
    (score, pair id) with the shared-neighbor count.

    Exactness: contributions are integer micro-units ``unit div
    deg(r)`` (BIGINT floor division — no float accumulation), summed
    exactly, so ranking and values are engine-stable.

    Scale shape — the same discipline as the q17/q153 posting lists:
    candidate pairs are generated per RIGHT node by a self-join
    co-partitioned on the right key, so the pair volume is
    Σ_r deg(r)², NOT |V|². Hot right-nodes are dropped by ``deg_cap``
    BEFORE pair generation (their per-pair contribution is ≤
    unit/deg_cap — the least informative edges, exactly why RA
    down-weights them; the cap bound is the documented loss, the
    q17 cap-sensitivity argument). Degrees are computed on the FULL
    edge set first, so surviving weights are true degrees.
    """
    e = edges.select(F.col(left).alias("__l"), F.col(right).alias("__r")).distinct()
    deg = e.groupBy("__r").agg(F.count(F.lit(1)).cast("bigint").alias("__deg"))
    w = (
        e.join(deg.where(F.col("__deg") <= deg_cap), "__r")
        .withColumn("__w", F.expr(f"CAST({int(unit)} AS BIGINT) div __deg"))
    )
    a, b = w.alias("a"), w.alias("b")
    pairs = (
        a.join(b, (F.col("a.__r") == F.col("b.__r")) & (F.col("a.__l") < F.col("b.__l")))
        .select(
            F.col("a.__l").alias("node_a"),
            F.col("b.__l").alias("node_b"),
            F.col("a.__w").alias("__w"),
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.sum("__w").cast("bigint").alias("ra_score_scaled"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        )
    )
    return pairs.orderBy(
        F.col("ra_score_scaled").desc(), F.col("node_a").asc(), F.col("node_b").asc()
    ).limit(k)


def temporal_reachability(
    edges: DataFrame,
    *,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    t: str = "t",
    max_hops: int = 3,
) -> DataFrame:
    """Time-respecting reachability (Kempe, Kleinberg & Kumar STOC'00
    temporal-path semantics): a node is reached only through edge
    sequences whose timestamps never DECREASE along the path —
    information flow, contagion tracing, supply-chain propagation.

    State = earliest temporal arrival per node (BIGINT time units);
    round r applies one Bellman relaxation

        arr(v) <- min( arr(v), min over edges (u,v,te), te >= arr(u) of te )

    so after ``max_hops`` rounds every <= max_hops-edge time-respecting
    path is accounted for. Sources enter at arrival 0 (reachable from
    the epoch). All integer arithmetic — the oracle unrolls the SAME
    rounds as CTEs (the q109/q162 contract).

    Per-round plan cost: one |arrival|⋈edges equi-join on the node key
    + one min-combine groupBy; the arrival frame is localCheckpointed
    per round (double consumer + lineage truncation). Returns one row
    per round: round, n_reached, min/max/sum of arrival times — the
    propagation wavefront profile.
    """
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), F.col(t).cast("bigint").alias("__t")
    ).distinct()
    arr = sources.select(
        F.col(sources.columns[0]).alias("node"), F.lit(0).cast("bigint").alias("arr")
    ).distinct()
    stats = []
    # the edge cache is read only while the rounds are built: with AQE
    # each round's lazy localCheckpoint runs its join + min-combine
    # shuffle stages as it is created, and the per-round stats read
    # only the checkpointed arrivals
    with _cached(e.repartition("__s")) as e:
        for rnd in range(1, max_hops + 1):
            relax = (
                arr.join(e, arr.node == e.__s)
                .where(F.col("__t") >= F.col("arr"))
                .select(F.col("__d").alias("node"), F.col("__t").alias("arr"))
            )
            arr = (
                arr.unionByName(relax)
                .groupBy("node")
                .agg(F.min("arr").alias("arr"))
                .localCheckpoint(eager=False)
            )
            stats.append(
                arr.agg(
                    F.lit(rnd).alias("round"),
                    F.count(F.lit(1)).cast("bigint").alias("n_reached"),
                    F.min("arr").cast("bigint").alias("min_arrival"),
                    F.max("arr").cast("bigint").alias("max_arrival"),
                    F.sum(F.col("arr").cast("decimal(38,0)")).alias("sum_arrival"),
                )
            )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.select(
        "round",
        "n_reached",
        "min_arrival",
        "max_arrival",
        F.col("sum_arrival").cast("double").alias("sum_arrival"),
    ).orderBy("round")


def weighted_sssp(
    edges: DataFrame,
    *,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
) -> DataFrame:
    """Hop-bounded single-source shortest paths over NON-NEGATIVE
    integer edge weights (Bellman-Ford, distributed relaxation) — the
    weighted upgrade of bfs_levels: cheapest routing cost, weakest-link
    supply path, minimum-latency reach.

    State = best known distance per node (BIGINT); round r applies one
    Bellman relaxation

        dist(v) <- min( dist(v), min over edges (u,v,w) of dist(u)+w )

    so after ``max_hops`` rounds every path of <= max_hops edges is
    accounted for — the exact hop-bounded shortest-path semantics (NOT
    an approximation of the unbounded problem; the bound is the
    contract, as in bfs_levels/temporal_reachability). All integer
    arithmetic, so the oracle unrolls the SAME rounds as CTEs and
    value-hash-matches (the q109/q162 contract).

    Scale shape: per round one |dist|⋈edges equi-join on the node key
    plus one min-combine groupBy (map-side combined); the dist frame is
    localCheckpointed per round (double consumer + lineage truncation).
    The edge list is repartitioned by source node once and cached, so
    every round's join reuses the same layout. Never materializes
    paths — only the monotone distance map, |V|-bounded.

    Returns (node, dist), one row per reached node."""
    e = edges.select(
        F.col(src).alias("__s"),
        F.col(dst).alias("__d"),
        F.col(weight).cast("bigint").alias("__w"),
    )
    # parallel edges: only the cheapest can ever win a relaxation
    e = e.groupBy("__s", "__d").agg(F.min("__w").alias("__w"))
    dist = sources.select(
        F.col(sources.columns[0]).alias("node"), F.lit(0).cast("bigint").alias("dist")
    ).distinct()
    with _cached(e.repartition("__s")) as e:
        for _ in range(max_hops):
            relax = (
                dist.join(e, dist.node == e.__s)
                .select(F.col("__d").alias("node"), (F.col("dist") + F.col("__w")).alias("dist"))
            )
            dist = (
                dist.unionByName(relax)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False)
            )
        return dist.localCheckpoint(eager=True)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a GIVEN node partition over the
    undirected simple graph (Newman & Girvan PRE 2004):

        Q = Σ_c [ m_c/m − (d_c/(2m))² ]

    (m = #edges, m_c = intra-community edges, d_c = total degree of
    community c) — the one-number "is this partition better than
    chance" readout that turns a community assignment (q191's LPA, a
    metadata table, an ownership column) into a judged quantity.

    Exactness: m, m_c, d_c are exact BIGINTs; each community's term
    is ONE fixed-parenthesization IEEE expression quantized to
    DECIMAL(38,18) before the sum over the #communities metadata
    frame (the grouped_moments rule).

    Scale: canonical-edge dedup, two label joins (AQE broadcasts the
    label frame when it is entity-sized), two map-side-combinable
    aggs; the 1-row (m) frame broadcasts onto the community frame.
    Returns ONE row (n_communities, n_edges, modularity)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
    )
    both = (
        e.join(lab.withColumnRenamed("__n", "a").withColumnRenamed("__l", "__la"), "a")
        .join(lab.withColumnRenamed("__n", "b").withColumnRenamed("__l", "__lb"), "b")
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    intra = (
        both.where(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("__c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__mc"))
    )
    deg = (
        both.select(F.col("__la").alias("__c"))
        .unionAll(both.select(F.col("__lb").alias("__c")))
        .groupBy("__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__dc"))
    )
    dec = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    md = F.col("__m").cast("double")
    term = F.coalesce(F.col("__mc"), F.lit(0)).cast("double") / md - (
        F.col("__dc").cast("double") / (F.lit(2.0) * md)
    ) * (F.col("__dc").cast("double") / (F.lit(2.0) * md))
    per_c = deg.join(intra, "__c", "left").crossJoin(F.broadcast(m))
    return per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.max("__m").cast("bigint").alias("n_edges"),
        F.round(F.sum(dec(term)).cast("double"), 6).alias("modularity"),
    )
