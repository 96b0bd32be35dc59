"""Iterative graph analytics beyond connected components: PageRank.

Training-data pipelines use link-graph centrality as a document-quality
prior (the CommonCrawl crawl frontier is harmonic-centrality ranked, and
"quality weighting by inlink authority" is a standard corpus-curation
signal). Connected components (dedup.connected_components) answers
"which docs are the same"; PageRank answers "which nodes matter".

Spark-first shape, same contract as the components operator:

- the deduped edge list and the node/out-degree relation are each
  materialized ONCE (two setup jobs total: one edge distinct, one
  shuffle producing both the node set and out-degrees) and reused by
  all iterations — per-round cost is one equality join on ``src`` plus
  one hash aggregation on ``dst``, both O(|E|) at most;
- iteration count is FIXED (power iteration to a chosen depth), so
  lineage depth is bounded; each round still truncates lineage via
  checkpoint (cluster: ``setCheckpointDir`` -> fault-tolerant
  ``checkpoint``; local mode: ``localCheckpoint``) so the plan never
  re-derives prior rounds;
- no driver-side data: the only collect in the operator is none at all —
  the node count feeds the teleport term as a broadcast one-row join.

Dangling nodes (no out-edges) support both standard treatments:
``dangling="leak"`` (the default the gate's chained-CTE oracle replays
exactly — mass leaks each round) and ``dangling="redistribute"`` (the
textbook correction: each round the dangling mass is spread uniformly,
computed as one extra one-row broadcast aggregate per round, never a
driver collect; total mass then stays exactly 1.0 every round —
pinned against a numpy reference in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_gpu_spark.operators.util import cuts, owns_cuts


@owns_cuts
def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool = True,
    dangling: str = "leak",
) -> DataFrame:
    """(node, rank) after ``iterations`` rounds of power iteration over
    the directed edge list.

    rank_0(v)   = 1 / N
    rank_i+1(v) = (1 - d) / N + d * SUM over u->v of rank_i(u) / outdeg(u)

    Each round folds ``rank(u)/outdeg(u)`` into the |V|-row rank
    relation (no O(|E|) weighted-edge table ever materializes), joins it
    onto the deduped edges and hash-aggregates on ``dst`` with map-side
    partial sums — a celebrity node costs one partial row per upstream
    partition, not a single-reducer hot key.

    ``broadcast_ranks`` (default True) broadcasts the |V|-row rank
    vector into the edge join, so the O(|E|) edge table is NEVER
    shuffled after setup — the right plan while |V| x ~24 bytes fits
    executor memory (hundreds of millions of nodes). For graphs beyond
    that, pass False: both sides hash-shuffle on the node key and the
    edge side's exchange is reused across rounds by AQE where possible
    (the classic co-partitioned PageRank).
    """
    ckpt = cuts(edges)
    # setup is TWO materializations (was three): the deduped edge list,
    # then one shuffle that yields BOTH the node set and the out-degrees
    # (sources contribute 1, destinations 0 — every endpoint appears).
    # The 1/outdeg edge weight never materializes as an O(|E|) table:
    # it rides the |V|-row rank relation into each round's join instead.
    e = ckpt(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes_deg = ckpt(
        e.select(F.col("src").alias("node"), F.lit(1).alias("out"))
        .unionAll(e.select(F.col("dst").alias("node"), F.lit(0).alias("out")))
        .groupBy("node")
        .agg(F.sum("out").cast("double").alias("outdeg"))
    )
    nodes = nodes_deg.select("node")
    # one-row broadcast with the teleport constants — no driver collect
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("n")))
    ranks = nodes.crossJoin(n_row).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    if dangling not in ("leak", "redistribute"):
        raise ValueError("dangling must be 'leak' or 'redistribute'")
    maybe_bcast = F.broadcast if broadcast_ranks else (lambda df: df)
    for _ in range(iterations):
        # rank(u)/outdeg(u) on the |V|-row side; dst-only nodes (outdeg
        # 0) can never match an e.src, so dropping them just shrinks the
        # broadcast
        rank_w = (
            ranks.join(nodes_deg, "node")
            .where(F.col("outdeg") > 0)
            .select("node", (F.col("rank") / F.col("outdeg")).alias("rw"))
        )
        contribs = (
            e.join(maybe_bcast(rank_w), e["src"] == rank_w["node"])
            .groupBy("dst")
            .agg(F.sum("rw").alias("contrib"))
        )
        nxt = nodes.join(
            maybe_bcast(contribs), nodes["node"] == contribs["dst"], "left"
        ).crossJoin(n_row)
        if dangling == "redistribute":
            # dangling mass this round: sum of rank over outdeg==0 nodes
            # — a one-row broadcast (same scalar-only pattern as n_row),
            # spread uniformly with the damping factor applied
            m_row = F.broadcast(
                ranks.join(nodes_deg, "node")
                .where(F.col("outdeg") == 0)
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
            )
            nxt = nxt.crossJoin(m_row)
            extra = damping * F.col("m") / F.col("n")
        else:
            extra = F.lit(0.0)
        ranks = ckpt(
            nxt.select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                    + extra
                ).alias("rank"),
            )
        )
    return ranks


@owns_cuts
def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle count of the UNDIRECTED graph given as a pair
    stream (either orientation, self-loops and duplicates tolerated).

    The classic two-join MapReduce algorithm with DEGREE-ORDERED
    orientation (Suri & Vassilvitskii, "Counting Triangles and the
    Curse of the Last Reducer", WWW'11): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one, so each
    node's out-neighborhood is O(sqrt(m)) even for a celebrity hub —
    the wedge join (oriented ⋈ oriented on the middle node) then
    generates at most sum(outdeg^2) = O(m^1.5) candidate wedges instead
    of the hub-quadratic blowup an id-only orientation suffers on skewed
    graphs. One equality self-join + one semi-join against the oriented
    edge set; every shuffle is keyed, no cartesian anywhere.

    Returns a single row ``(n_triangles)``; each triangle is counted
    exactly once (its orientation is acyclic, so the wedge at the
    lowest-ordered corner finds it uniquely).

    The oriented edge relation is consumed THREE times (both wedge legs
    + the closing probe), so it is materialized once via the shared
    iterative-operator checkpoint policy — without that cut Catalyst
    re-derives the whole dedup + degree-join chain per consumer (audited:
    32 shuffles instead of ~7 on the co-purchase gate graph).
    """
    ckpt = cuts(edges)
    # canonical undirected edge set (lo, hi), self-loops dropped —
    # materialized once: both the degree aggregation and the orientation
    # join read it
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = ckpt(
        edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    )
    # undirected degree: every endpoint appears once per distinct edge
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dl = deg.select(
        F.col("node").alias("lo"), F.col("deg").alias("deg_lo")
    )
    dh = deg.select(
        F.col("node").alias("hi"), F.col("deg").alias("deg_hi")
    )
    # orient from the (deg, id)-smaller endpoint to the larger
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = ckpt(
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        )
    )
    # wedges u->v, u->w (v before w in the orientation order) closed by
    # an oriented edge v->w
    e1 = oriented.select(F.col("u"), F.col("v"))
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = e1.join(e2, e1["u"] == e2["u2"]).where(F.col("v") != F.col("w")).select("v", "w")
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    closed = wedges.join(closing, ["v", "w"], "inner")
    # each triangle {x<y<z} closes exactly once: its corner-x wedge
    # emits (y,z) AND (z,y), but the orientation is a DAG so only y->z
    # exists as a closing edge — no double counting to correct
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


@owns_cuts
def common_neighbors(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_degree: int = 64,
    min_common: int = 2,
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every NON-adjacent
    node pair at distance 2, the common-neighbor count and the Jaccard
    coefficient |N(a) & N(b)| / |N(a) | N(b)| — the classic
    Liben-Nowell/Kleinberg baselines every recommender and
    knowledge-graph completion pipeline starts from.

    Shape: adjacency (both directions of the canonical undirected edge
    set) self-joined on the MIDDLE node — one equality-keyed shuffle
    generating Σ deg(mid)² wedges. That sum is hub-quadratic, so middle
    nodes with degree > ``max_degree`` are EXCLUDED from wedge
    generation (the standard practice: a hub neighbor carries ~no
    link-prediction signal — its presence in two neighborhoods is not
    evidence they are alike — and the cap bounds the wedge stream at
    |V| * max_degree² regardless of skew; the same celebrity-hub
    argument as triangle_count's degree orientation, solved here by
    drop instead of orient because prediction, unlike counting, is
    robust to hub removal). Jaccard denominators still use FULL
    degrees. Existing edges are removed by an anti-join on the
    canonical pair, ``min_common`` bounds the output.

    The canonical edge relation feeds FOUR consumers (two wedge legs,
    the degree aggregation, the anti-join), so it is materialized once
    via the shared iterative-operator checkpoint policy — the same cut
    triangle_count needs (without it Catalyst re-derives the edge
    dedup per consumer: audited 22 shuffles + 6 SMJs on the gate graph
    vs 6 shuffles + 1 SMJ with the cut). The degree relation is |V|
    rows and broadcast into the cap filter and the Jaccard projection.
    """
    ckpt = cuts(edges)
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = ckpt(
        edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    )
    adj = und.select(
        F.col("lo").alias("mid"), F.col("hi").alias("nbr")
    ).unionAll(und.select(F.col("hi").alias("mid"), F.col("lo").alias("nbr")))
    deg = ckpt(adj.groupBy("mid").agg(F.count(F.lit(1)).alias("deg")))
    small_mid = adj.join(
        F.broadcast(deg.where(F.col("deg") <= max_degree).select("mid")), "mid"
    )
    x = small_mid.select("mid", F.col("nbr").alias("x"))
    y = small_mid.select(F.col("mid").alias("mid2"), F.col("nbr").alias("y"))
    pairs = (
        x.join(y, x["mid"] == y["mid2"])
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    # drop already-linked pairs; attach full degrees for the Jaccard
    pairs = pairs.join(
        und, (pairs["x"] == und["lo"]) & (pairs["y"] == und["hi"]), "left_anti"
    )
    dx = deg.select(F.col("mid").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("mid").alias("y"), F.col("deg").alias("deg_y"))
    return (
        pairs.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            F.col("x").alias("a"),
            F.col("y").alias("b"),
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


@owns_cuts
def k_core(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """(node, degree) of the k-core after ``rounds`` peel iterations:
    each round removes every node whose degree in the CURRENT subgraph
    is below ``k`` and restricts the edge set to surviving endpoints —
    the standard dense-subgraph / spam-farm / community-seed filter on
    link graphs.

    Peeling with EARLY STOP, bounded by ``rounds``: bounded lineage
    (each round's edge set is checkpoint-truncated), per-round cost one
    hash aggregation (degree) plus two semi-joins (edge restriction) —
    all equality-keyed, O(|E|). Peeling is monotone (the edge set only
    shrinks), so as soon as a round removes no edge the result IS the
    exact k-core and the remaining rounds are skipped — the per-round
    edge count is observed in the cut's own job (no extra job), far
    cheaper than a wasted agg+semi-join round. ``rounds`` stays the
    hard upper bound for a cascade deeper than expected (tests verify
    the loop exits at cascade depth, not at ``rounds`` — the gate graph
    converges in 3).
    """
    ckpt = cuts(edges)
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    e, n_edges = ckpt.counted(
        edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("lo").alias("node"))
            .unionAll(e.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        e, remaining = ckpt.counted(
            e.join(keep.withColumnRenamed("node", "lo"), "lo", "left_semi")
            .join(keep.withColumnRenamed("node", "hi"), "hi", "left_semi")
        )
        if remaining == n_edges:
            break  # monotone: nothing removed => exact k-core reached
        n_edges = remaining
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.where(F.col("degree") >= k)


def degree_histogram(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """(degree, n_nodes) distribution of the undirected graph — the
    first diagnostic anyone runs on a link graph (power-law check,
    skew estimate for join planning). Two keyed aggregations; the
    histogram is at most |V| rows and usually tiny."""
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@owns_cuts
def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """(node, dist) minimum-hop distance from the seed set over the
    undirected graph, truncated at ``rounds`` hops — frontier BFS, the
    reachability/radius primitive under influence propagation, crawl
    frontier scheduling and contamination-spread analysis on link
    graphs. ``seeds`` is a one-column (node) relation.

    Frontier-parallel shape (the Pregel spelling without Pregel): the
    adjacency relation is materialized ONCE (both directions, deduped,
    checkpoint-truncated) and reused every round; each round expands
    the CURRENT frontier with one equality join on the node key, then
    anti-joins the visited set — per-round work is
    O(frontier x avg_degree), never O(|E| x rounds) re-derivation,
    because both the visited set and the next frontier are
    checkpoint-truncated. Early stop: the frontier's size is observed in
    the job that cuts it, so an empty frontier costs no extra job and
    ends the loop at the graph's true eccentricity instead of
    paying the full ``rounds`` bound (same contract as k_core).
    """
    ckpt = cuts(edges)
    fwd = edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
    rev = edges.select(F.col(b).alias("s"), F.col(a).alias("d"))
    adj = ckpt(fwd.unionAll(rev).where(F.col("s") != F.col("d")).distinct())

    node = seeds.columns[0]
    visited = ckpt(
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    frontier = visited.select("node")
    for depth in range(1, rounds + 1):
        nxt, n_new = ckpt.counted(
            adj.join(frontier.withColumnRenamed("node", "s"), "s")
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        if n_new == 0:
            break
        visited = ckpt(visited.unionAll(nxt))
        frontier = nxt.select("node")
    return visited


@owns_cuts
def all_pairs_distances(
    edges: DataFrame, max_dist: int = 6, a: str = "a", b: str = "b"
) -> DataFrame:
    """(src, node, dist) minimum-hop distance for EVERY pair within
    ``max_dist`` — multi-source BFS with a source tag riding every
    frontier row. State is O(sum of ball sizes): exact, and affordable
    exactly when balls are bounded (sparse graphs, small components, or
    a tight ``max_dist``) — this is the VERIFICATION TWIN for
    :func:`harmonic_hyperball`, which replaces the per-source tag with
    a per-node HLL sketch when |V| x ball no longer fits anything.

    Same frontier mechanics as :func:`bfs_distances` (adjacency
    materialized once, per-round checkpoint truncation, empty-frontier
    early stop), keyed by (src, node)."""
    ckpt = cuts(edges)
    fwd = edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
    rev = edges.select(F.col(b).alias("s"), F.col(a).alias("d"))
    adj = ckpt(fwd.unionAll(rev).where(F.col("s") != F.col("d")).distinct())
    nodes = adj.select(F.col("s").alias("node")).distinct()
    visited = ckpt(
        nodes.select(
            F.col("node").alias("src"), "node", F.lit(0).alias("dist")
        )
    )
    frontier = visited.select("src", "node")
    for depth in range(1, max_dist + 1):
        nxt, n_new = ckpt.counted(
            adj.join(frontier.withColumnRenamed("node", "s"), "s")
            .select("src", F.col("d").alias("node"))
            .distinct()
            .join(visited, ["src", "node"], "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        if n_new == 0:
            break
        visited = ckpt(visited.unionAll(nxt))
        frontier = nxt.select("src", "node")
    return visited


def harmonic_exact(
    edges: DataFrame, max_dist: int = 6, a: str = "a", b: str = "b"
) -> DataFrame:
    """(node, harmonic) — harmonic centrality truncated at ``max_dist``
    hops: sum over reachable peers of 1/dist. The crawl-frontier /
    corpus-quality prior named in this module's header, computed
    exactly from :func:`all_pairs_distances` (so only viable where
    that is). Rounded to 6 places so a replaying oracle is not graded
    on double accumulation order."""
    ap = all_pairs_distances(edges, max_dist=max_dist, a=a, b=b)
    return (
        ap.where(F.col("dist") > 0)
        .groupBy(F.col("src").alias("node"))
        .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic"))
    )


@owns_cuts
def harmonic_hyperball(
    edges: DataFrame,
    max_dist: int = 6,
    lg_k: int = 12,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """(node, harmonic, ball) — HyperBall (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", 2013):
    approximate truncated harmonic centrality where each node carries
    an HLL SKETCH of its radius-r ball instead of the ball itself.
    Per round, every node unions its neighbors' sketches into its own
    (registers only grow, so ball estimates are monotone) and adds
    (|ball_r| - |ball_{r-1}|) / r to its harmonic counter — the number
    of NEW nodes first reached at distance r, each weighted 1/r.

    This is THE published algorithm for centrality at web scale: state
    is |V| x 2^lg_k bytes (4 KiB/node at the default lg_k=12, ~1.6%
    relative error) no matter how large the balls grow, per-round cost
    is one equality join + one hll_union_agg hash aggregation — all
    JVM-side Spark built-ins (hll_sketch_agg / hll_union /
    hll_sketch_estimate), no Python. Compare
    :func:`all_pairs_distances`, whose exact state is the sum of ball
    SIZES — quadratic on a connected graph.

    Estimate clamping: F.greatest(growth, 0) guards the counter against
    the (tiny, bias-correction) non-monotonicity HLL++ estimates can
    show even over monotone registers."""
    ckpt = cuts(edges)
    fwd = edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
    rev = edges.select(F.col(b).alias("s"), F.col(a).alias("d"))
    adj = ckpt(fwd.unionAll(rev).where(F.col("s") != F.col("d")).distinct())
    state = ckpt(
        adj.select(F.col("s").alias("node"))
        .distinct()
        .groupBy("node")
        .agg(F.hll_sketch_agg(F.col("node"), F.lit(lg_k)).alias("sk"))
        .select(
            "node",
            "sk",
            F.lit(1.0).alias("ball"),
            F.lit(0.0).alias("harmonic"),
        )
    )
    for r in range(1, max_dist + 1):
        nbr = (
            adj.join(
                state.select(F.col("node").alias("s"), "sk"), "s"
            )
            .groupBy(F.col("d").alias("node"))
            .agg(F.hll_union_agg(F.col("sk")).alias("nsk"))
        )
        merged = state.join(nbr, "node", "left").select(
            "node",
            F.when(
                F.col("nsk").isNull(), F.col("sk")
            ).otherwise(F.hll_union(F.col("sk"), F.col("nsk"))).alias("sk"),
            "ball",
            "harmonic",
        )
        est = F.hll_sketch_estimate(F.col("sk")).cast("double")
        state = ckpt(
            merged.select(
                "node",
                "sk",
                est.alias("ball"),
                (
                    F.col("harmonic")
                    + F.greatest(est - F.col("ball"), F.lit(0.0)) / F.lit(float(r))
                ).alias("harmonic"),
            )
        )
    return state.select("node", "harmonic", "ball")


@owns_cuts
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) topic-sensitive / personalized PageRank (Haveliwala,
    WWW 2002): identical power iteration to :func:`pagerank`, except
    the teleport distribution is uniform over the SEED set instead of
    all nodes —

        rank_0(v)   = p(v)
        rank_i+1(v) = (1 - d) * p(v) + d * SUM over u->v of rank_i(u)/outdeg(u)
        p(v)        = 1/|S| for v in S, else 0

    — so mass keeps flowing back toward the seeds and the stationary
    ranks measure proximity/trust relative to THEM (the "pages like
    these", TrustRank-style seed-propagation, and related-entity
    primitives). Leak-mode dangling handling, matching the chained-CTE
    oracle. Same scale shape as pagerank: the |V|-row personalization
    and rank relations broadcast into the edge join, the O(|E|) edge
    table is never re-shuffled after setup, rounds are
    checkpoint-truncated.
    """
    ckpt = cuts(edges)
    e = ckpt(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes_deg = ckpt(
        e.select(F.col("src").alias("node"), F.lit(1).alias("out"))
        .unionAll(e.select(F.col("dst").alias("node"), F.lit(0).alias("out")))
        .groupBy("node")
        .agg(F.sum("out").cast("double").alias("outdeg"))
    )
    # Restrict seeds to graph nodes BEFORE counting |S|: a seed absent
    # from the edge list can receive no teleport mass (p_rel is built on
    # nodes_deg), so normalizing by the unrestricted count would silently
    # leak 1/|S| per missing seed and ranks would under-sum.
    seed_nodes = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .join(nodes_deg.select("node"), "node", "semi")
    )
    ns_row = F.broadcast(
        seed_nodes.agg(F.count(F.lit(1)).cast("double").alias("ns"))
    )
    p_rel = ckpt(
        nodes_deg.select("node")
        .join(seed_nodes.withColumn("__s__", F.lit(1.0)), "node", "left")
        .crossJoin(ns_row)
        .select(
            "node",
            (F.coalesce(F.col("__s__"), F.lit(0.0)) / F.col("ns")).alias("p"),
        )
    )
    ranks = p_rel.select("node", F.col("p").alias("rank"))
    for _ in range(iterations):
        rank_w = (
            ranks.join(nodes_deg, "node")
            .where(F.col("outdeg") > 0)
            .select("node", (F.col("rank") / F.col("outdeg")).alias("rw"))
        )
        contribs = (
            e.join(F.broadcast(rank_w), e["src"] == rank_w["node"])
            .groupBy("dst")
            .agg(F.sum("rw").alias("contrib"))
        )
        ranks = ckpt(
            p_rel.join(
                F.broadcast(contribs), p_rel["node"] == contribs["dst"], "left"
            ).select(
                "node",
                (
                    (1.0 - damping) * F.col("p")
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


@owns_cuts
def bellman_ford(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    a: str = "a",
    b: str = "b",
    w: str = "w",
    work: dict | None = None,
) -> DataFrame:
    """(node, cost) minimum total edge WEIGHT over undirected paths of
    at most ``rounds`` edges from the seed set — k-hop Bellman-Ford
    relaxation, the weighted sibling of :func:`bfs_distances` (travel
    cost, latency, trust decay; :func:`bfs_distances` is the w=1
    special case). Distributed Bellman-Ford relaxes EVERY labeled node
    each round (no priority queue to serialize through), which is the
    textbook distributed answer where Dijkstra's global ordering
    doesn't parallelize; delta-stepping's bucketing is the refinement
    when edge-weight spread makes full relaxation wasteful.

    Per round: one equality join (current labels x adjacency) + one
    min aggregation, both keyed — O(|labeled| x avg_degree) work,
    checkpoint-truncated. Early stop: labels only ever ADD nodes or
    DECREASE costs, so an unchanged (count, sum-of-costs) pair —
    observed in the job that cuts the round, exact on integer weights
    — certifies a fixpoint and skips the remaining rounds.

    ``work`` (optional dict) accumulates the relaxation work actually
    paid — ``relaxed_rows`` (label rows driven through relax joins)
    and ``rounds`` — from the SAME per-round scalars the fixpoint
    check already collects (no extra jobs); the delta-stepping A/B
    probe reads it.
    """
    ckpt = cuts(edges)
    fwd = edges.select(F.col(a).alias("s"), F.col(b).alias("d"), F.col(w).alias("w"))
    rev = edges.select(F.col(b).alias("s"), F.col(a).alias("d"), F.col(w).alias("w"))
    adj = ckpt(fwd.unionAll(rev).where(F.col("s") != F.col("d")).distinct())
    node = seeds.columns[0]
    label_stats = {
        "n": F.count(F.lit(1)), "s": F.coalesce(F.sum("cost"), F.lit(0))
    }
    dist, seen = ckpt.observed(
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long")),
        **label_stats,
    )
    prev = (seen["n"], seen["s"])
    for _ in range(rounds):
        if work is not None:
            work["relaxed_rows"] = work.get("relaxed_rows", 0) + prev[0]
            work["rounds"] = work.get("rounds", 0) + 1
        cand = adj.join(dist.withColumnRenamed("node", "s"), "s").select(
            F.col("d").alias("node"), (F.col("cost") + F.col("w")).alias("cost")
        )
        dist, seen = ckpt.observed(
            dist.unionAll(cand).groupBy("node").agg(F.min("cost").alias("cost")),
            **label_stats,
        )
        cur = (seen["n"], seen["s"])
        if cur == prev:
            break  # monotone labels: unchanged (count, sum) == fixpoint
        prev = cur
    return dist


def modularity(
    sym: DataFrame, deg: DataFrame, assign: DataFrame, two_m: float
) -> float:
    """Newman-Girvan modularity Q of a community ``assign``ment (node,
    comm) over a symmetrized adjacency ``sym`` (i, j, w — each
    undirected edge present in BOTH directions, self-loops once at 2w)
    with degrees ``deg`` (node, k) and total weight ``two_m`` = sum of
    sym.w:

        Q = intra/two_m - SUM over C of (tot(C)/two_m)^2

    Two broadcast joins + two aggregations; the result is ONE scalar
    (the bounded fixpoint-check collect pattern, like bellman_ford's
    (count, sum) certificate). The two single-row aggregates are
    unioned and collected in ONE job (r15): each ``first()`` was a
    separate job dispatch, and louvain calls this once per pass."""
    ai = F.broadcast(assign.select(F.col("node").alias("i"), F.col("comm").alias("ci")))
    aj = F.broadcast(assign.select(F.col("node").alias("j"), F.col("comm").alias("cj")))
    intra_rel = (
        sym.join(ai, "i").join(aj, "j")
        .where(F.col("ci") == F.col("cj"))
        .agg(F.sum("w").alias("v"))
    )
    sq_rel = (
        assign.join(deg, "node")
        .groupBy("comm")
        .agg(F.sum("k").alias("tot"))
        .agg(F.sum(F.col("tot") * F.col("tot")).alias("v"))
    )
    parts = {
        r["part"]: r["v"]
        for r in intra_rel.select(F.lit("intra").alias("part"), "v")
        .unionAll(sq_rel.select(F.lit("sq").alias("part"), "v"))
        .collect()
    }
    intra = parts.get("intra") or 0.0
    sq = parts.get("sq") or 0.0
    return intra / two_m - sq / (two_m * two_m)


@owns_cuts
def louvain(
    edges: DataFrame,
    passes: int = 2,
    move_rounds: int = 4,
    a: str = "a",
    b: str = "b",
    weight: str | None = None,
) -> tuple[DataFrame, list[float]]:
    """(assignment, modularity-per-pass) Louvain-style community
    detection (Blondel et al. 2008), distributed the way the published
    parallel/distributed Louvain variants do it: the inherently
    sequential one-node-at-a-time local-move phase becomes SYNCHRONOUS
    half-moves — each round, the deterministic half of the nodes
    (hash parity, alternating) evaluates the standard modularity gain

        dQ(i: A->D) * m = [k_i->D - k_i->A'] - k_i * (S_D - S_A') / two_m

    against every neighboring community and moves to the best strictly
    positive one; the other half holds still, damping the two-node
    swap oscillation synchronous updates are prone to. After
    ``move_rounds`` rounds the graph is CONTRACTED (communities become
    supernodes, parallel edges sum, intra-edges become self-loops) and
    the next pass runs on the supergraph — the classic two-phase
    Louvain, each pass O(passes smaller).

    Modularity is recomputed exactly after every pass on the current
    (super)graph — contraction preserves Q, so it is the true Q of the
    composed node assignment. A pass that fails to improve Q (possible
    under synchronous moves) is DISCARDED and iteration stops, so the
    returned per-pass Q trajectory is monotone non-decreasing BY
    CONSTRUCTION — the contract the gate query asserts.

    Scale shape (same family as pagerank/kcore): per round one keyed
    equality join of the symmetrized edges with the broadcast |V|-row
    assignment, one (i, comm) hash aggregation, and one argmax window;
    every round and pass checkpoint-truncated; driver traffic is one
    scalar two_m plus one Q scalar per pass — never data. Labels are
    algorithmic state no other engine replays, so the gate grades the
    monotone-Q + planted-floor contract instead (the
    agg_approx_error_bounded pattern).
    """
    # reset_stats: each round references the previous assignment in
    # several join branches, so preserved checkpoint statistics compound
    # geometrically and stall the planner in BigInt arithmetic after a
    # dozen rounds (see util.stats_barrier); every join this operator
    # wants broadcast carries an explicit hint, so losing auto-broadcast
    # costs nothing
    ckpt = cuts(edges, reset_stats=True)
    wcol = F.col(weight).cast("double") if weight else F.lit(1.0)
    und = edges.select(
        F.least(F.col(a), F.col(b)).alias("i"),
        F.greatest(F.col(a), F.col(b)).alias("j"),
        wcol.alias("w"),
    ).where(F.col("i").isNotNull() & F.col("j").isNotNull())
    pair = und.groupBy("i", "j").agg(F.sum("w").alias("w"))
    proper = pair.where(F.col("i") != F.col("j"))
    sym = ckpt(
        proper.unionAll(
            proper.select(F.col("j").alias("i"), F.col("i").alias("j"), "w")
        ).unionAll(
            pair.where(F.col("i") == F.col("j")).select(
                "i", "j", (F.col("w") * 2).alias("w")
            )
        )
    )
    deg, seen = ckpt.observed(
        sym.groupBy(F.col("i").alias("node")).agg(F.sum("w").alias("k")),
        two_m=F.sum("k"),
    )
    two_m = float(seen["two_m"] or 0.0)
    if two_m == 0.0:
        empty = deg.select("node", F.col("node").alias("comm"))
        return empty, [0.0]

    g_sym, g_deg = sym, deg
    membership: DataFrame | None = None
    qs = [
        modularity(
            g_sym, g_deg, g_deg.select("node", F.col("node").alias("comm")),
            two_m,
        )
    ]
    for _ in range(passes):
        assign = ckpt(g_deg.select("node", F.col("node").alias("comm")))
        for rnd in range(move_rounds):
            aj = F.broadcast(
                assign.select(F.col("node").alias("j"), F.col("comm").alias("D"))
            )
            # ONE data-sized exchange per round (r15, guide §2.4): the
            # joined neighbor rows and the own-community zero rows are
            # unioned BEFORE aggregating and hash-repartitioned by i
            # alone; HashPartitioning(i) satisfies the clustering
            # requirement of BOTH downstream aggregations (groupBy(i, D)
            # here and pick's groupBy(i) below — broadcast joins
            # preserve the streamed side's partitioning), where the old
            # spelling paid three exchanges: nbr's groupBy(i, D), the
            # union re-aggregation, and pick's groupBy(i).
            nbr_rows = (
                g_sym.where(F.col("i") != F.col("j"))
                .join(aj, "j")
                .select("i", "D", "w")
            )
            own = assign.select(
                F.col("node").alias("i"), F.col("comm").alias("D"),
                F.lit(0.0).alias("w"),
            )
            cand = (
                nbr_rows.unionAll(own)
                .repartition("i")
                .groupBy("i", "D")
                .agg(F.sum("w").alias("kiD"))
            )
            # (node, comm, k) built ONCE per round with a broadcast-
            # hinted degree side (r16): the old spelling planned this
            # assign-to-degree attachment as a sort-merge join (both
            # sides carry reset 8 EiB stats) — two exchanges + two
            # sorts per round — and then SEPARATELY broadcast g_deg and
            # the assignment into the scoring join, two more
            # HashedRelation builds on the same key. One BHJ feeds both
            # comm_tot and the scoring join's i-keyed node_info
            # broadcast; the g_deg BroadcastExchange is shared by reuse
            # within the round's single query execution.
            joined = assign.join(
                F.broadcast(g_deg), "node"
            )
            comm_tot = joined.groupBy(F.col("comm").alias("D")).agg(
                F.sum("k").alias("tot")
            )
            node_info = F.broadcast(
                joined.select(
                    F.col("node").alias("i"), F.col("comm").alias("A"), "k"
                )
            )
            s_excl = F.col("tot") - F.when(
                F.col("D") == F.col("A"), F.col("k")
            ).otherwise(F.lit(0.0))
            scored = (
                cand.join(F.broadcast(comm_tot), "D")
                .join(node_info, "i")
                .select(
                    "i", "D", "A",
                    (F.col("kiD") - F.col("k") * s_excl / two_m).alias("score"),
                )
            )
            pick = scored.groupBy("i").agg(
                F.max(F.struct(F.col("score"), F.col("D"))).alias("b"),
                F.max(
                    F.when(F.col("D") == F.col("A"), F.col("score"))
                ).alias("sA"),
                F.first("A").alias("A"),
            )
            eligible = (F.abs(F.xxhash64(F.col("i"))) + F.lit(rnd)) % 2 == 0
            assign = ckpt(
                pick.select(
                    F.col("i").alias("node"),
                    F.when(
                        eligible & (F.col("b.score") > F.col("sA") + 1e-15),
                        F.col("b.D"),
                    )
                    .otherwise(F.col("A"))
                    .alias("comm"),
                )
            )
        q = modularity(g_sym, g_deg, assign, two_m)
        if q < qs[-1] - 1e-12:
            break  # synchronous-move pass regressed: discard, keep monotone
        qs.append(q)
        if membership is None:
            membership = assign
        else:
            # the relabel map is supernode-sized; broadcast it (r15) —
            # stats_barrier pins the checkpointed assign at the 8 EiB
            # default size, so without the hint this |V|-row composition
            # planned as a two-exchange sort-merge join every pass
            membership = ckpt(
                membership.join(
                    F.broadcast(
                        assign.select(
                            F.col("node").alias("comm"), F.col("comm").alias("__c2__")
                        )
                    ),
                    "comm",
                ).select("node", F.col("__c2__").alias("comm"))
            )
        # contraction: communities -> supernodes; parallel edges sum,
        # intra-community mass becomes the supernode's self-loop row
        am_i = F.broadcast(
            assign.select(F.col("node").alias("i"), F.col("comm").alias("ci"))
        )
        am_j = F.broadcast(
            assign.select(F.col("node").alias("j"), F.col("comm").alias("cj"))
        )
        g_sym = ckpt(
            g_sym.join(am_i, "i")
            .join(am_j, "j")
            .groupBy(F.col("ci").alias("i"), F.col("cj").alias("j"))
            .agg(F.sum("w").alias("w"))
        )
        g_deg = ckpt(
            g_sym.groupBy(F.col("i").alias("node")).agg(F.sum("w").alias("k"))
        )
    if membership is None:
        membership = deg.select("node", F.col("node").alias("comm"))
    return membership, qs


@owns_cuts
def delta_stepping(
    edges: DataFrame,
    seeds: DataFrame,
    delta: int = 3,
    max_buckets: int = 64,
    light_rounds: int = 16,
    a: str = "a",
    b: str = "b",
    w: str = "w",
    work: dict | None = None,
) -> DataFrame:
    """(node, cost) EXACT single-source (seed-set) shortest paths over
    the undirected weighted graph — delta-stepping (Meyer & Sanders
    2003), the bucketed refinement of :func:`bellman_ford` its
    docstring names: tentative distances are processed in buckets of
    width ``delta``; inside the current bucket only LIGHT edges
    (w <= delta) relax, repeatedly, over the just-improved frontier
    (a light relaxation cannot escape the bucket's settled prefix),
    then HEAVY edges (w > delta) relax ONCE from the whole bucket.
    Plain Bellman-Ford re-relaxes EVERY labeled node every round, so
    on wide-weight graphs its total relaxation work is
    rounds x |labeled|; delta-stepping touches each node only while
    it sits in the active bucket — the published distributed SSSP
    work-bound fix when the weight spread makes full relaxation
    wasteful. delta = max weight degenerates to Bellman-Ford;
    delta = 1 on unit weights degenerates to Dijkstra/BFS.

    Per step: one keyed equality join (frontier x light/heavy
    adjacency) + one min aggregation + one improvement anti-check
    against the current labels, all checkpoint-truncated. The labels
    carry a ``fresh`` flag (improved this step), and each step's cut
    reads, in its own job, the two counts that drive the loop: the
    improved nodes inside the bucket (the next light frontier, taken
    from the cut) and the bucket's size (the next bucket's, after the
    heavy step) — no other action runs. Buckets advance until the
    bucket floor passes the current maximum tentative cost, which
    certifies every label settled (costs only decrease; a settled
    bucket can never be re-opened because any path through a later
    bucket is already >= its floor).

    ``work`` (optional dict) accumulates ``relaxed_rows`` (frontier/
    bucket rows driven through relax joins) and ``rounds`` so the A/B
    probe can compare the work bound against :func:`bellman_ford`'s.
    """
    ckpt = cuts(edges)
    fwd = edges.select(F.col(a).alias("s"), F.col(b).alias("d"), F.col(w).alias("w"))
    rev = edges.select(F.col(b).alias("s"), F.col(a).alias("d"), F.col(w).alias("w"))
    adj = ckpt(fwd.unionAll(rev).where(F.col("s") != F.col("d")).distinct())
    light = ckpt(adj.where(F.col("w") <= delta))
    heavy = ckpt(adj.where(F.col("w") > delta))
    node = seeds.columns[0]

    def in_bucket(k: int) -> Column:
        return (F.col("cost") >= k * delta) & (F.col("cost") < (k + 1) * delta)

    def n_where(cond: Column) -> Column:
        return F.count(F.when(cond, 1))

    def relax(frontier: DataFrame, rel: DataFrame, cur: DataFrame):
        """Candidates one hop from ``frontier`` through ``rel`` that
        strictly improve ``cur`` labels: (node, cost) improvements."""
        cand = (
            rel.join(frontier.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.min(F.col("cost") + F.col("w")).alias("cost"))
        )
        old = cur.select("node", F.col("cost").alias("__old__"))
        return (
            cand.join(old, "node", "left")
            .where(F.col("__old__").isNull() | (F.col("cost") < F.col("__old__")))
            .select("node", "cost")
        )

    def merged(cur: DataFrame, improved: DataFrame) -> DataFrame:
        """``cur`` labels lowered by ``improved``; ``fresh`` marks the
        improved nodes (an improvement is strict, so it is the min)."""
        return (
            cur.select("node", "cost", F.lit(False).alias("fresh"))
            .unionAll(improved.withColumn("fresh", F.lit(True)))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"), F.max("fresh").alias("fresh"))
        )

    def tally(rows: int) -> None:
        if work is not None:
            work["relaxed_rows"] = work.get("relaxed_rows", 0) + rows
            work["rounds"] = work.get("rounds", 0) + 1

    dist, seen = ckpt.observed(
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long")),
        n=n_where(in_bucket(0)),
    )
    n_bucket = seen["n"]
    for bucket in range(max_buckets):
        here = in_bucket(bucket)
        frontier, n_frontier = dist.where(here), n_bucket
        for _ in range(light_rounds):
            if n_frontier == 0:
                break
            tally(n_frontier)
            fresh = here & F.col("fresh")
            dist, seen = ckpt.observed(
                merged(dist, relax(frontier, light, dist)),
                n=n_where(fresh),
                nb=n_where(here),
            )
            n_frontier, n_bucket = seen["n"], seen["nb"]
            # only improvements that landed INSIDE the bucket re-relax;
            # the rest wait for their own bucket
            frontier = dist.where(fresh)
        else:
            # the loop ran out of rounds with a non-empty frontier: light
            # edges inside this bucket still improve labels, and the
            # bucket never reopens — returning would be silently
            # NON-shortest paths
            if n_frontier:
                raise RuntimeError(
                    "delta_stepping: light-relaxation budget exhausted inside "
                    f"bucket {bucket} — raise light_rounds (chains of light "
                    "edges within one bucket need one round per hop)"
                )
        tally(n_bucket)
        dist, seen = ckpt.observed(
            merged(dist, relax(dist.where(here), heavy, dist)),
            mx=F.max("cost"),
            n=n_where(in_bucket(bucket + 1)),
        )
        n_bucket, top = seen["n"], seen["mx"]
        if top is not None and top < (bucket + 1) * delta:
            break  # every label below the next bucket floor: all settled
    else:
        raise RuntimeError(
            "delta_stepping: bucket budget exhausted before settlement — "
            "raise max_buckets (buckets needed ~ max distance / delta)"
        )
    return dist.select("node", "cost")


@owns_cuts
def resource_allocation(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_degree: int = 64,
    min_common: int = 2,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009): for
    every non-adjacent pair at distance 2, RA(x,y) = Σ_{z∈CN(x,y)} 1/deg(z)
    — the common-neighbor refinement that DISCOUNTS hub middles instead
    of counting them equally (each middle "spreads one unit of resource
    across its neighbors"), which beats raw counts and Adamic-Adar on
    most benchmark graphs in the original study.

    Same wedge mechanics and hub cap as :func:`common_neighbors` (the
    equality-keyed mid join, Σ deg² bounded by ``max_degree``, anti-join
    on existing edges) — the cap composes WITH the 1/deg discount: a
    capped-out hub would have contributed ≤ 1/max_degree per pair, so
    dropping it perturbs scores by at most that, and the oracle replays
    the identical capped wedge space.

    Arithmetic is cross-engine exact: each middle's contribution
    quantizes ONCE to integer nano-units round(1e9/deg(z)) — a single
    IEEE division + round on identical inputs gives identical bigints
    on any engine — and the per-pair score is a bigint SUM (order-free)
    divided once at the end. Adamic-Adar's 1/ln(deg) needs libm ln,
    whose last-ulp rounding is NOT pinned across engines; RA is the
    member of the family with an exact oracle, which is why it is the
    gate spelling (AA is a one-line weight swap for library callers who
    accept contract-style checking).
    """
    ckpt = cuts(edges)
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = ckpt(
        edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    )
    adj = und.select(
        F.col("lo").alias("mid"), F.col("hi").alias("nbr")
    ).unionAll(und.select(F.col("hi").alias("mid"), F.col("lo").alias("nbr")))
    deg = ckpt(adj.groupBy("mid").agg(F.count(F.lit(1)).alias("deg")))
    # nano-unit weight of each SMALL middle; full degree in the discount
    w_mid = deg.where(F.col("deg") <= max_degree).select(
        "mid",
        F.round(F.lit(1e9) / F.col("deg")).cast("long").alias("w"),
    )
    small_mid = adj.join(F.broadcast(w_mid), "mid")
    x = small_mid.select("mid", "w", F.col("nbr").alias("x"))
    y = small_mid.select(F.col("mid").alias("mid2"), F.col("nbr").alias("y"))
    pairs = (
        x.join(y, x["mid"] == y["mid2"])
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("w").alias("ra_units"),
        )
        .where(F.col("common") >= min_common)
    )
    pairs = pairs.join(
        und, (pairs["x"] == und["lo"]) & (pairs["y"] == und["hi"]), "left_anti"
    )
    return pairs.select(
        F.col("x").alias("a"),
        F.col("y").alias("b"),
        "common",
        "ra_units",
        F.round(F.col("ra_units") / F.lit(1e9), 6).alias("ra"),
    )


@owns_cuts
def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 20,
    max_trim_rounds: int = 40,
    max_prop_rounds: int = 80,
) -> DataFrame:
    """Exact strongly connected components of a DIRECTED graph — the
    first directed-reachability operator in the family (components/
    BFS/harmonic treat edges as undirected). SCCs are what cycle
    detection, dependency condensation and dedup-graph canonicalization
    actually need: node u and v share an SCC iff each reaches the other.

    Algorithm: Trim + min-label coloring with peeling — the standard
    distributed SCC recipe (FW-BW-Trim, McLendon et al. 2005; coloring
    as in Orzan 2004, both replacing Tarjan's inherently sequential
    DFS, which does not distribute). Per OUTER round:

    1. TRIM to fixpoint: a remaining node with no incoming or no
       outgoing edge is a singleton SCC by definition; peeling it can
       expose more, so iterate (two distinct-projections + semi-joins
       per round, count-based early stop). This removes the acyclic
       fringe for the price of cheap keyed jobs.
    2. Forward MIN-label propagation to fixpoint: color(v) converges to
       min{id(u) : u ->* v}. Monotone non-increasing per node, so an
       unchanged color-sum certifies the fixpoint. One keyed join + min
       aggregation per hop, O(diameter) hops.
    3. ROOTS are nodes with color(v) == id(v); each root r's SCC is
       exactly the set BACKWARD-reachable from r through nodes of the
       SAME color (anything on such a path satisfies r ->* x via the
       color and x ->* r via the path). One keyed join per hop,
       monotone growing frontier, count early stop. All color classes
       peel their root SCC in the same round — the gate graph finishes
       in ONE outer round (7 trim + 14 fwd + 16 bwd hops, measured).
    4. Assign scc_id = color to the reached set, drop it, repeat.

    Every hop is a keyed equality join + aggregation, checkpoint-
    truncated with the stats barrier (rounds reference the previous
    checkpoint in multiple join branches — the louvain geometric-stats
    lesson); each early stop's scalar is observed in the job that cuts
    its hop, never a job of its own. Raises if the loop budgets are
    exhausted before convergence rather than returning a silently
    partial answer.

    Returns (node, scc_id) with scc_id = min member id, the canonical
    labeling the oracle's mutual-reachability closure replays.
    """
    ckpt = cuts(edges, reset_stats=True)
    e = ckpt(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    nodes, n_remaining = ckpt.counted(
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
    )
    assigned: list[DataFrame] = []

    for _outer in range(max_outer):
        if n_remaining == 0:
            break
        # 1. trim the acyclic fringe
        for _trim in range(max_trim_rounds):
            has_out = e.select(F.col("s").alias("node")).distinct()
            has_in = e.select(F.col("d").alias("node")).distinct()
            core, n_core = ckpt.counted(
                nodes.join(has_out, "node", "left_semi").join(
                    has_in, "node", "left_semi"
                )
            )
            if n_core == n_remaining:
                break
            assigned.append(
                ckpt(
                    nodes.join(core, "node", "left_anti").select(
                        "node", F.col("node").alias("scc_id")
                    )
                )
            )
            nodes = core
            e = ckpt(
                e.join(nodes.withColumnRenamed("node", "s"), "s", "left_semi").join(
                    nodes.withColumnRenamed("node", "d"), "d", "left_semi"
                )
            )
            n_remaining = n_core
        if n_remaining == 0:
            break
        # 2. forward min-label propagation to fixpoint
        color = ckpt(nodes.select("node", F.col("node").alias("color")))
        prev_sum = None
        for _hop in range(max_prop_rounds):
            msgs = (
                e.join(
                    color.select(
                        F.col("node").alias("s"), F.col("color").alias("c_in")
                    ),
                    "s",
                )
                .groupBy(F.col("d").alias("node"))
                .agg(F.min("c_in").alias("c_min"))
            )
            color, seen = ckpt.observed(
                color.join(msgs, "node", "left").select(
                    "node",
                    F.least(
                        F.col("color"), F.coalesce(F.col("c_min"), F.col("color"))
                    ).alias("color"),
                ),
                s=F.sum("color"),
            )
            if seen["s"] == prev_sum:
                break  # monotone non-increasing labels: fixpoint
            prev_sum = seen["s"]
        else:
            raise RuntimeError("scc: forward propagation budget exhausted")
        # 3. backward reachability from roots within each color class
        reached, n_reached = ckpt.counted(
            color.where(F.col("node") == F.col("color")).select("node", "color")
        )
        for _hop in range(max_prop_rounds):
            preds = (
                e.join(
                    reached.select(
                        F.col("node").alias("d"), F.col("color").alias("c_r")
                    ),
                    "d",
                )
                .select(F.col("s").alias("node"), F.col("c_r").alias("color"))
                .join(
                    color.select("node", F.col("color").alias("c_own")), "node"
                )
                .where(F.col("color") == F.col("c_own"))
                .select("node", "color")
            )
            reached, n_new = ckpt.counted(reached.unionAll(preds).distinct())
            if n_new == n_reached:
                break  # monotone frontier: fixpoint
            n_reached = n_new
        else:
            raise RuntimeError("scc: backward propagation budget exhausted")
        # 4. peel the finished SCCs
        assigned.append(ckpt(reached.select("node", F.col("color").alias("scc_id"))))
        nodes = ckpt(nodes.join(reached, "node", "left_anti"))
        e = ckpt(
            e.join(nodes.withColumnRenamed("node", "s"), "s", "left_semi").join(
                nodes.withColumnRenamed("node", "d"), "d", "left_semi"
            )
        )
        n_remaining -= n_reached
    if n_remaining != 0:
        raise RuntimeError("scc: outer peeling budget exhausted")
    if not assigned:  # edgeless input
        return nodes.select("node", F.col("node").alias("scc_id"))
    out = assigned[0]
    for part in assigned[1:]:
        out = out.unionAll(part)
    return out.select("node", "scc_id")


@owns_cuts
def topo_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """Topological layering of a DAG by iterative Kahn peeling: layer(v)
    = the round at which v loses its last unpeeled predecessor, which
    equals the LONGEST path length from any source to v — the
    "scheduling wave" number every dependency executor (build systems,
    task DAGs, the condensation of :func:`strongly_connected_components`)
    assigns before running waves in parallel.

    Per round: one distinct projection of remaining edge targets + one
    anti-join peels EVERY current source simultaneously, so rounds ==
    DAG depth (8 on the gate graph), not node count — the same
    frontier-parallel argument as bfs_distances. Edges are re-filtered
    to surviving sources each round, checkpoint-truncated.

    Raises on cyclic input (a round where nothing peels while nodes
    remain proves a cycle) instead of returning a partial layering —
    combined with the raise-free path, this IS the distributed cycle
    detector; run SCC first when the input may legitimately cycle.
    """
    ckpt = cuts(edges)
    e = ckpt(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    remaining, n_remaining = ckpt.counted(
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
    )
    layers: list[DataFrame] = []
    for rnd in range(max_rounds):
        if n_remaining == 0:
            break
        targets = e.select(F.col("d").alias("node")).distinct()
        peeled, n_peeled = ckpt.counted(
            remaining.join(targets, "node", "left_anti").withColumn(
                "layer", F.lit(rnd)
            )
        )
        if n_peeled == 0:
            raise ValueError(
                f"topo_layers: cycle detected ({n_remaining} nodes never peel)"
            )
        layers.append(peeled)
        remaining = ckpt(remaining.join(peeled, "node", "left_anti"))
        e = ckpt(
            e.join(remaining.withColumnRenamed("node", "s"), "s", "left_semi")
        )
        n_remaining -= n_peeled
    if n_remaining != 0:
        raise RuntimeError("topo_layers: round budget exhausted")
    if not layers:
        return remaining.withColumn("layer", F.lit(0))
    out = layers[0]
    for part in layers[1:]:
        out = out.unionAll(part)
    return out.select("node", "layer")


@owns_cuts
def boruvka_mst(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    w: str = "w",
    max_rounds: int = 25,
    component_max_iter: int = 40,
) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — the member of
    the MST family that actually distributes (Kruskal serializes
    through one sorted edge stream, Prim through one frontier; Borůvka
    lets EVERY component pick its lightest incident edge per round and
    merges, halving the component count, so rounds <= log2(n) — the
    1926 algorithm that modern parallel MST work still builds on).

    Per round: one labeled join of the canonical edge list against the
    component map (both directions), one min-aggregation per component
    — Spark's ``min(struct(w, lo, hi))`` gives the lexicographic
    minimum, and that COMPOSITE total order is what makes tie-broken
    Borůvka cycle-free (equal weights alone can cycle; a total order
    cannot) — then the chosen edges' component pairs merge through
    :func:`dedup.connected_components` (reused verbatim: the merge
    forest is just another pair stream). Parallel edges collapse to
    their min weight up front; the forest accumulates per round and an
    empty live-edge round certifies completion. Budget exhaustion
    raises rather than returning a partial forest.

    The tie-broken result is always A minimum spanning forest of the
    input (exchange argument on the composite order); it is THE unique
    MSF when no two live weights tie at a cut, and the planted-tree
    gate construction (every non-tree edge strictly heavier than every
    tree edge) pins the exact edge set regardless of ties among heavy
    edges — which is what makes an exact SQL oracle possible for an
    iterative algorithm.

    Returns canonical MST edges (lo, hi, w).
    """
    from datafusion_gpu_spark.operators.dedup import connected_components
    ckpt = cuts(edges, reset_stats=True)
    und = ckpt(
        edges.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
            F.col(w).alias("w"),
        )
        .where(F.col("lo") != F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.min("w").alias("w"))
    )
    comp = ckpt(
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    forest: list[DataFrame] = []
    for _ in range(max_rounds):
        cl = comp.select(F.col("node").alias("lo"), F.col("comp").alias("c_lo"))
        ch = comp.select(F.col("node").alias("hi"), F.col("comp").alias("c_hi"))
        live, n_live = ckpt.counted(
            und.join(cl, "lo").join(ch, "hi").where(F.col("c_lo") != F.col("c_hi"))
        )
        if n_live == 0:
            break
        inc = live.select(F.col("c_lo").alias("c"), "w", "lo", "hi").unionAll(
            live.select(F.col("c_hi").alias("c"), "w", "lo", "hi")
        )
        chosen = ckpt(
            inc.groupBy("c")
            .agg(F.min(F.struct("w", "lo", "hi")).alias("m"))
            .select(
                F.col("m.lo").alias("lo"),
                F.col("m.hi").alias("hi"),
                F.col("m.w").alias("w"),
            )
            .distinct()
        )
        forest.append(chosen)
        ce = (
            chosen.join(cl, "lo")
            .join(ch, "hi")
            .select("c_lo", "c_hi")
        )
        merged = connected_components(
            ce, a="c_lo", b="c_hi", max_iter=component_max_iter
        )
        comp = ckpt(
            comp.join(
                merged.withColumnRenamed("node", "comp"), "comp", "left"
            ).select(
                "node",
                F.coalesce(F.col("component"), F.col("comp")).alias("comp"),
            )
        )
    else:
        raise RuntimeError("boruvka_mst: round budget exhausted")
    if not forest:
        return und.where(F.lit(False))
    out = forest[0]
    for part in forest[1:]:
        out = out.unionAll(part)
    return out.distinct()


@owns_cuts
def local_clustering(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Per-node local clustering coefficient of the undirected graph
    (Watts & Strogatz 1998): lcc(v) = 2 * tri(v) / (deg(v) * (deg(v)-1))
    — the per-node companion of :func:`triangle_count`, and the standard
    "is this neighborhood a community or a star" feature for spam/bot
    detection and graph-aware curation.

    Same degree-ordered orientation as triangle_count (Suri &
    Vassilvitskii WWW'11), so wedge fan-out stays O(sqrt(m)) per node on
    skewed graphs; the difference is the emit: each closed triangle
    (u, v, w) contributes one count to ALL THREE corners (a 3-way
    explode of the closed-wedge stream), then one keyed aggregation.
    Nodes in no triangle emit lcc 0.0 via the left join; degree-1 nodes
    emit 0.0 by convention (the 0/0 case).

    The division is the only float op — two exact bigints in, ROUND 6
    out — so any engine reproduces it bit-for-bit.

    Returns (node, deg, n_tri, lcc).
    """
    ckpt = cuts(edges)
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = ckpt(edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct())
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("deg").alias("deg_lo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("deg").alias("deg_hi"))
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = ckpt(
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u"), F.col("v"))
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = (
        e1.join(e2, e1["u"] == e2["u2"])
        .where(F.col("v") != F.col("w"))
        .select("u", "v", "w")
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    closed = wedges.join(closing, ["v", "w"], "inner")
    corners = closed.select(
        F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
    )
    tri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    lcc = F.when(
        F.col("deg") >= 2,
        F.round(
            (F.lit(2) * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
            / (F.col("deg") * (F.col("deg") - F.lit(1))),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        lcc.alias("lcc"),
    )


@owns_cuts
def label_propagation(
    edges: DataFrame, rounds: int = 3, a: str = "a", b: str = "b"
) -> DataFrame:
    """Synchronous label propagation community detection (Raghavan et
    al. 2007) over the undirected graph, made fully deterministic: every
    round each node adopts the MOST FREQUENT label among its neighbors,
    ties broken by the smallest label — so a fixed round count yields a
    reproducible labeling on any engine (the classic async LPA is
    order-dependent; the sync+tiebreak variant is the one a distributed
    engine can honestly contract).

    Per round: one join (neighbor relation ⋈ labels, keyed by the
    neighbor endpoint), one (node, label) count aggregation, one rank
    window — all O(|E|) keyed shuffles; labels checkpoint per round so
    lineage stays flat (the components/pagerank policy). Nodes keep
    their own id as the initial label; a node with no neighbors never
    appears in the edge-derived node set by construction.

    Unlike Louvain (graph.louvain — modularity ascent with contraction)
    this needs no quality function and no graph rebuild, which is why
    LPA is the cheap first-pass community sweep at web scale.

    Returns (node, label) after ``rounds`` synchronous rounds.
    """
    ckpt = cuts(edges)
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    nbr = ckpt(
        und.select(F.col("lo").alias("node"), F.col("hi").alias("nb")).unionAll(
            und.select(F.col("hi").alias("node"), F.col("lo").alias("nb"))
        )
    )
    labels = ckpt(
        nbr.select("node").distinct().withColumn("label", F.col("node"))
    )
    for _ in range(rounds):
        msgs = nbr.join(
            labels.select(F.col("node").alias("nb"), "label"), "nb"
        ).select("node", "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), "label")
        new = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = ckpt(
            labels.join(new, "node", "left").select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
        )
    return labels


def degree_assortativity(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """One-row (n_edges, r) degree assortativity of the undirected
    graph — Newman (2002)'s mixing coefficient: the Pearson correlation
    of endpoint degrees over all edges, each edge counted in both
    orientations (so the marginal moments are symmetric by
    construction). r > 0 means hubs attach to hubs (social-graph
    shape), r < 0 hubs attach to leaves (the internet/dependency
    shape) — the diagnostic that decides whether hub-capping
    (common_neighbors' max_degree guard) will bite.

    Scale shape: one distinct on the edge list, one node-keyed degree
    aggregation, two degree lookups joined BY ENDPOINT KEY (keyed
    equi-joins; the degree relation is |V|-sized, never broadcast, so
    the planner picks sort-merge at scale — the documented exempt
    large-large class, same as graph_common_neighbors; SCALE.md SMJ
    table), then a single five-moment aggregation. All moments are
    exact bigint sums over
    integer degrees, so the fold is order-free; r is one fixed float
    expression (products in double, one IEEE sqrt), rounded to 6 — the
    same terminal-floats-only contract as the autocorr/Spearman family.
    """
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    both = und.select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    ).unionAll(und.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("__u__"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("__v__"), F.col("d").alias("dy"))
    pairs = (
        both.join(du, both.u == du.__u__)
        .join(dv, both.v == dv.__v__)
        .select("dx", "dy")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    md, sxd = F.col("m2").cast("double"), F.col("sx").cast("double")
    num = md * F.col("sxy") - sxd * F.col("sx")
    vx = md * F.col("sxx") - sxd * F.col("sx")
    vy = md * F.col("syy") - sxd * F.col("sx")
    # regular graphs have zero degree variance: emit NULL, never 0/0
    # (ANSI mode raises on the division otherwise — the autocorr guard)
    r = F.when((vx > 0) & (vy > 0), F.round(num / F.sqrt(vx * vy), 6))
    return m.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        r.alias("r"),
    )


@owns_cuts
def hits(
    edges: DataFrame, iters: int = 2, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, JACM 46(5)) over a
    directed edge list, in the EXACT integer path-count formulation:
    with h_0 = 1 on every source, each round folds a <- sum_in h and
    h <- sum_out a, so after k rounds the raw authority score of a node
    is the exact COUNT of alternating forward/backward walks of length
    2k ending at it — bigint arithmetic end to end, graded exactly by
    an unrolled SQL oracle. Normalization (the power-iteration scaling
    step, which only changes scale, never order) happens ONCE
    terminally per side: score = raw / max(raw), a single IEEE division
    on exact integers — deterministic cross-engine, unlike a per-round
    L2 normalization whose accumulated float state diverges in the
    last ulp.

    Scale shape: 2k equality-keyed join+aggregate passes over the edge
    list (the pagerank plan without the dangling-mass term); raw scores
    are bounded by max_degree^(2k-1), so at k = 2 the fold wraps int64
    only past ~30M-degree hubs — domain-bounded on any bipartite
    business graph, documented rather than guarded (the Kendall-W
    convention). Lineage depth is fixed at 2k joins, not
    data-dependent. Every round references ``e`` in a fresh join
    branch, so at scale the lazy spelling re-runs the upstream edge
    construction (for graph_hits: the orders x lineitem join +
    distinct) once per branch; with a checkpoint dir configured (the
    cluster spelling — ``util.cuts(reuse_only=True)``, r16) one reliable
    checkpoint turns those 2k+1 passes over the raw input into one.
    In local mode e stays lazy: the r15 driver bench measured the
    eager localCheckpoint +15% at sf0.1, and the lazy spelling pins
    no RDD after return.

    Returns (side, node, raw, score): side in ('hub', 'authority').
    """
    ckpt = cuts(edges, reuse_only=True)
    e = ckpt(edges.select(src, dst).distinct())
    h = (
        e.select(F.col(src).alias("node"))
        .distinct()
        .withColumn("hv", F.lit(1).cast("long"))
    )
    a = None
    for _ in range(iters):
        a = (
            e.join(h.select(F.col("node").alias(src), "hv"), src)
            .groupBy(dst)
            .agg(F.sum("hv").cast("long").alias("av"))
            .select(F.col(dst).alias("node"), "av")
        )
        h = (
            e.join(a.select(F.col("node").alias(dst), "av"), dst)
            .groupBy(src)
            .agg(F.sum("av").cast("long").alias("hv"))
            .select(F.col(src).alias("node"), "hv")
        )
    scored = a.select(
        F.lit("authority").alias("side"), "node", F.col("av").alias("raw")
    ).unionAll(
        h.select(F.lit("hub").alias("side"), "node", F.col("hv").alias("raw"))
    )
    w = Window.partitionBy("side")
    return scored.select(
        "side",
        "node",
        "raw",
        F.round(
            F.col("raw").cast("double") / F.max("raw").over(w), 8
        ).alias("score"),
    )


def partition_modularity(
    edges: DataFrame, labels: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Newman modularity (Newman & Girvan 2004) of a node partition
    over the undirected graph: per community c,
    contribution_c = e_c/m - (d_c/(2m))^2 with e_c the internal edge
    count, d_c the community degree sum, m the total edge count; Q is
    the sum over communities. The QUALITY gate for any partition the
    engine emits (label propagation, connected components) — Louvain
    maximizes this quantity internally (graph.louvain), but nothing
    previously EXPOSED it for a given labeling.

    Exact arithmetic: e_c, d_c, m are integer folds (two equality joins
    of the edge list against the labels, one degree aggregation); each
    community's contribution is a terminal double on exact bigints.
    ``labels`` must cover every node in the edge-derived node set
    (label_propagation's contract).

    Returns (community, n_nodes, internal_edges, degree_sum,
    contribution) — SUM(contribution) is Q.
    """
    lo = F.least(F.col(a), F.col(b)).alias("lo")
    hi = F.greatest(F.col(a), F.col(b)).alias("hi")
    und = edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    comm = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
        .select(F.col("label").alias("community"), "n_nodes", "degree_sum")
    )
    la = labels.select(F.col("node").alias("lo"), F.col("label").alias("cl"))
    lb = labels.select(F.col("node").alias("hi"), F.col("label").alias("ch"))
    internal = (
        und.join(la, "lo")
        .join(lb, "hi")
        .where(F.col("cl") == F.col("ch"))
        .groupBy("cl")
        .agg(F.count(F.lit(1)).cast("long").alias("internal_edges"))
        .select(F.col("cl").alias("community"), "internal_edges")
    )
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    joined = comm.join(internal, "community", "left").crossJoin(m)
    ec = F.coalesce(F.col("internal_edges"), F.lit(0).cast("long"))
    dterm = F.col("degree_sum").cast("double") / (2 * F.col("m"))
    return joined.select(
        "community",
        "n_nodes",
        ec.alias("internal_edges"),
        "degree_sum",
        # + 0.0 normalizes IEEE signed zero: singleton communities round to
        # -0.0 under libm (DuckDB) but +0.0 under BigDecimal HALF_UP (Spark);
        # the driver's string-level hash sees the sign. -0.0 + 0.0 == +0.0.
        (
            F.round(ec.cast("double") / F.col("m") - dterm * dterm, 6)
            + F.lit(0.0)
        ).alias("contribution"),
    )
