"""Distributed graph analytics: weighted PageRank (Page et al. 1999).

ABSENT-IN-REFERENCE (SURVEY.md §2B north-star): the reference pipeline
has no graph operators at all; this complements the connected-components
fixpoint in ``operators/dedup.py`` with the other canonical iterative
graph primitive, in the standard pregel-by-joins Spark shape.

Execution model per iteration (the published power-iteration form):

    contrib  = ranks JOIN norm_edges ON node = src    (shuffle by node)
    new_rank = (1-d)/N + d * SUM(contrib) GROUP BY dst

The normalized edge table is persisted once (caller-owned lifecycle via
``CacheScope``, same contract as the dedup/similarity operators) so the
K iterations re-shuffle only the rank vector — (node, double) rows —
never the edge list derivation. At 100 TB the edge table partitioning
is stable across iterations, so each join co-partitions against the
same exchange; ranks are a node-count-sized table, orders of magnitude
smaller than the raw fact tables they came from.

Determinism: fixed iteration count, fixed damping, uniform init — no
RNG. Cross-engine float drift is summation-order only (~1e-15
relative); oracles round to 6 dp and tie-break ordering by node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwh_with_dask_spark.operators.caching import CacheScope


#: broadcast the node-sized rank/contribution frames into the
#: per-iteration joins below this node count (~50 MB built hash
#: relation at the cap); past it the shuffle join scales as before
_PR_BROADCAST_NODES_MAX = 2_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 5,
    damping: float = 0.85,
    undirected: bool = True,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns (node, rank).

    ``undirected=True`` mirrors every edge (the right semantics for
    affinity graphs like customer<->supplier); it also removes dangling
    nodes entirely — every node has out-degree >= 1 — so no dangling
    redistribution term is needed. With ``undirected=False`` dangling
    mass is dropped (the (1-d)/N floor still applies), matching the
    oracle twin exactly.
    """
    scope = scope or CacheScope()
    spark = edges.sparkSession
    reliable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

    def _pin(df: DataFrame) -> DataFrame:
        # Same contract as dedup.connected_components: truncate lineage
        # each round so the plan stays flat (persist caches data but the
        # logical plan would still grow join-deep per iteration, and the
        # repeated reference to ``norm`` inside its own derivation would
        # trip self-join column resolution).
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=True
        )

    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    outw = e.groupBy("src").agg(F.sum("w").alias("__tw"))
    norm = scope.persist(
        e.join(outw, "src").select(
            F.col("src").alias("node"), "dst", (F.col("w") / F.col("__tw")).alias("p")
        )
    )
    nodes = scope.persist(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty edge list")
    base = (1.0 - damping) / n

    # Broadcast the node-sized frames into the per-iteration joins
    # (round 16, guide §3.1): the rank vector and the contribution
    # aggregate are both node-count-sized, so broadcasting them keeps
    # the EDGE table (the big side) un-shuffled across all iterations —
    # it is scanned from its persisted partitions and the only exchange
    # left per iteration is the node-sized groupBy. Guarded by the node
    # count the build already collected; huge graphs keep the shuffle
    # join.
    bcast_ok = n <= _PR_BROADCAST_NODES_MAX

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_ok else df

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            norm.join(_b(ranks), "node")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("__c"))
            .withColumnRenamed("dst", "node")
        )
        ranks = _pin(
            nodes.join(_b(contrib), "node", "left").select(
                "node",
                (F.lit(base) + damping * F.coalesce("__c", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )

    return ranks


def _canonical_edges(
    edges: DataFrame, src: str, dst: str, min_count: int
) -> DataFrame:
    """Undirected edge canonicalization shared by the triangle family:
    (lo, hi) with lo < hi (self-loops drop), deduped. ``min_count > 1``
    is the DENSITY guard as an operator parameter (VERDICT r8 ask #5 —
    previously a per-query convention): a multi-edge input (e.g. one
    row per order in which a part pair co-occurs) keeps only edges with
    >= min_count parallel rows, the cap-the-hot-keys contract that
    bounds the wedge join's deg² blowup (measured through this
    parameter at sf1 on the part co-occurrence graph: 84.8 s unguarded
    vs 0.43 s at min_count=2 — BENCH_SCALE.md round 9; round 8's
    pre-operator measurement of the same pathology saw 35 s under a
    different warm-cache protocol)."""
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("lo"),
        F.greatest(F.col(src), F.col(dst)).alias("hi"),
    ).filter(F.col("lo") < F.col("hi"))
    if min_count > 1:
        return (
            e.groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).alias("__m"))
            .filter(F.col("__m") >= min_count)
            .drop("__m")
        )
    return e.distinct()


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    per_node: bool = False,
    per_vertex: bool = False,
    min_count: int = 1,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Exact triangle counting over an undirected edge list — the third
    canonical graph primitive beside PageRank and connected components
    (clustering-coefficient inputs, community density, link-spam and
    bot-ring signals over co-occurrence graphs).

    Algorithm (the standard distributed formulation): canonicalize each
    undirected edge to (lo, hi) with lo < hi and dedupe — self-loops
    drop, each triangle {a < b < c} then exists as EXACTLY the three
    edges (a,b), (b,c), (a,c). Count wedges a<b<c by joining the edge
    list with itself on b, then close each wedge against the edge list
    on (a, c). Every triangle is counted once — no /3 correction, no
    orientation ambiguity.

    Scale shape: two equi-join shuffles over the (deduped) edge list;
    wedge work per node is deg_out² under the a<b<c orientation, which
    for the id ordering is bounded by the same skew guards as any
    self-join — ``min_count`` IS that guard (see ``_canonical_edges``;
    pass the raw multi-edge rows and let the operator threshold).
    Returns a 1-row (n_triangles) frame; with ``per_vertex=True`` the
    TRUE per-node counts ((node, n_triangles) for every vertex of
    every triangle — the clustering-coefficient numerator, one explode
    of the (a,b,c) triple); with ``per_node=True`` apex-only counts
    (node = smallest id in the triangle — re-aggregable partials for
    incremental maintenance; they sum to the global count, unlike
    per-vertex counts which sum to 3x).
    """
    if per_node and per_vertex:
        raise ValueError("per_node and per_vertex are mutually exclusive")
    # Persisted: the canonical edge list feeds THREE consumers (both
    # wedge sides + the closing join) whose projections column-prune
    # differently, so ReusedExchange never fires and the whole edge
    # DERIVATION (often itself a join, e.g. the co-occurrence basket
    # self-join) would run three times — measured 6 scans / 0 reuses on
    # the part graph. Lifecycle: caller-owned via ``scope``.
    scope = scope or CacheScope()
    e = scope.persist(_canonical_edges(edges, src, dst, min_count))
    tris = _closed_wedges(e)
    if per_node:
        out = tris.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).alias("n_triangles")
        )
    elif per_vertex:
        out = (
            tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
    else:
        out = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    return out


def _closed_wedges(e: DataFrame) -> DataFrame:
    """(a, b, c) rows, one per triangle, a < b < c — wedge join on b,
    closing join on (a, c), over a canonical (lo, hi) edge list."""
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    method: str = "ra",
    min_count: int = 1,
    broadcast_deg_limit: int = 8_000_000,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected edge list —
    score NON-edges by their shared neighborhood, the classic
    recommendation/graph-completion primitive ("parts bought together
    with both of these", co-author suggestion, knowledge-graph edge
    repair). Returns (node_a, node_b, n_common, score) for every
    non-adjacent pair with >= 1 common neighbor, node_a < node_b.

    Methods (all published, Liben-Nowell & Kleinberg 2003 / Zhou, Lü &
    Zhang 2009):

    - ``common_neighbors``: |N(a) ∩ N(c)|;
    - ``ra`` (resource allocation, default): Σ_b 1/deg(b) over common
      neighbors b — down-weights promiscuous hubs with PURE RATIONAL
      arithmetic, so unlike Adamic-Adar it is DuckDB-oracle-able under
      the repo's round(,6) sum idiom (no ``ln``);
    - ``adamic_adar``: Σ_b 1/ln(deg(b)) — the textbook form, kept for
      parity (a common neighbor always has deg >= 2, so ln > 0; scores
      carry ``ln``'s last-ulp engine variance, rounded to 6 dp).

    Scale shape: one wedge join over the bidirectional adjacency (the
    same deg² work as ``triangle_count``, bounded by the same
    ``min_count`` density guard), one anti-join against the edge list
    to keep NON-edges, one degree join keyed on the common neighbor,
    one (a, c) aggregate. The canonical edge list is persisted —
    adjacency (twice), the anti-join, and degrees all consume it.

    The degree join is EXPLICITLY broadcast when the node count (one
    cheap aggregate over the already-persisted edge list) is at most
    ``broadcast_deg_limit`` rows — the degree table is node-count-sized
    and the wedge side is deg²-sized, so shuffling wedges to meet a
    small degree table is pure waste; past the limit (billions of
    nodes at 100 TB) it falls back to a shuffle join rather than risk a
    driver OOM. Set ``broadcast_deg_limit=0`` to always shuffle.
    """
    if method not in ("common_neighbors", "ra", "adamic_adar"):
        raise ValueError(f"unknown link_prediction method {method!r}")
    scope = scope or CacheScope()
    e = scope.persist(_canonical_edges(edges, src, dst, min_count))
    adj = e.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).unionByName(
        e.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("__deg"))
    wedges = (
        adj.select(F.col("node").alias("node_a"), F.col("nbr").alias("__b"))
        .join(
            adj.select(F.col("node").alias("__b"), F.col("nbr").alias("node_b")),
            "__b",
        )
        .filter(F.col("node_a") < F.col("node_b"))
    )
    missing = wedges.join(
        e.select(F.col("lo").alias("node_a"), F.col("hi").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
    degb = deg.withColumnRenamed("node", "__b")
    if broadcast_deg_limit:
        # node count = degree-table row count — one tiny job over the
        # persisted edge list, and it warms the same cache every
        # downstream stage reads
        if deg.count() <= broadcast_deg_limit:
            degb = F.broadcast(degb)
    per_b = missing.join(degb, "__b")
    if method == "common_neighbors":
        score = F.count(F.lit(1)).cast("double")
    elif method == "ra":
        score = F.round(F.sum(F.lit(1.0) / F.col("__deg")), 6)
    else:  # adamic_adar
        score = F.round(
            F.sum(F.lit(1.0) / F.log(F.col("__deg").cast("double"))), 6
        )
    out = per_b.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common"), score.alias("score")
    )
    return out


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_count: int = 1,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Local clustering coefficient per node over an undirected edge
    list: ``2·T(v) / (deg(v)·(deg(v)−1))`` — the fraction of a node's
    neighbor pairs that are themselves connected, THE standard consumer
    of per-vertex triangle counts (community tightness, bot-ring and
    link-spam signals; VERDICT r8 ask #5). Returns (node, n_triangles,
    degree, clustering_coeff) for every node of the (guarded) graph;
    degree-<2 nodes get coefficient 0.0 (no neighbor pairs exist — the
    convention that keeps the column total and NULL-free).

    Determinism: 2·T and deg·(deg−1) are exact BIGINTs and the single
    double division is IEEE-correctly-rounded, so the coefficient is
    bit-identical cross-engine — fully DuckDB-oracle-able, no rounding
    idiom needed.

    Scale shape: the wedge/closing joins of ``triangle_count`` plus one
    node-keyed degree aggregate and one node-keyed left join, all on
    the SAME persisted canonical edge list (four consumers — the
    persist is what keeps the edge derivation from running four times);
    ``min_count`` is the same density guard.
    """
    scope = scope or CacheScope()
    e = scope.persist(_canonical_edges(edges, src, dst, min_count))
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    pv = (
        _closed_wedges(e)
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    d = F.col("degree")
    out = deg.join(pv, "node", "left").select(
        "node",
        t.alias("n_triangles"),
        "degree",
        F.when(
            d >= 2, (F.lit(2.0) * t) / (d * (d - F.lit(1)))
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )
    return out
