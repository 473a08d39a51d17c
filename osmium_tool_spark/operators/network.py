"""Road-network topology: way graph construction + connected components.

The reference streams entities and leaves graph analysis to downstream
routers (osmium-tool has no network pass; OSRM/Valhalla preprocessors
rebuild the graph per run). At engine scale the graph IS a DataFrame:
consecutive ref pairs of every way are edges, and "routing islands" —
components disconnected from the main road network, the classic map-QA
defect — fall out of the same alternating large-star/small-star CC
machinery the dedup pipeline uses (operators/dedup.dup_clusters,
Kiveris et al. 2014), so the whole analysis is a handful of shuffles on
the edge set, no driver-side graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def way_edges(ways: DataFrame, id_col: str = "id", refs_col: str = "refs") -> DataFrame:
    """Undirected edge list from way geometry: one (u, v) row per
    consecutive ref pair, self-loops dropped (a doubled node contributes
    no connectivity). Pure Column math — slice/zip_with/explode inside
    codegen, one pass over the way table."""
    refs = F.col(refs_col)
    pairs = F.zip_with(
        F.slice(refs, 1, F.greatest(F.size(refs) - 1, F.lit(0))),
        F.slice(refs, 2, F.greatest(F.size(refs) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("u"), b.alias("v")),
    )
    return (
        ways.filter(F.size(refs) >= 2)
        .select(F.explode(pairs).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def network_components(
    ways: DataFrame, id_col: str = "id", refs_col: str = "refs"
) -> DataFrame:
    """Label every node of the way network with its connected component
    (component_id = the component's minimum node id) and the component's
    node count — `component_size 1..k` ORDER BY size surfaces routing
    islands directly.

    Nodes referenced by some way but in no 2+-node path (single-ref ways,
    pure self-loops) are singleton components. Scale shape: edge
    construction is one pass; CC is the O(log^2 n)-round large/small-star
    loop on a monotonically shrinking edge set; the size join is one
    hash-agg + broadcast-sized join per component frame.

    Returns (node_id, component_id, component_size).
    """
    from .dedup import dup_clusters

    edges = way_edges(ways, id_col=id_col, refs_col=refs_col)
    universe = (
        ways.select(F.explode(F.col(refs_col)).alias("id")).distinct()
    )
    labeled = dup_clusters(edges, a="u", b="v", ids=universe)
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("component_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        F.col("id").alias("node_id"),
        F.col("cluster_id").alias("component_id"),
        "component_size",
    )


def hop_distance(
    ways: DataFrame,
    sources: DataFrame,
    max_hops: int = 20,
    id_col: str = "id",
    refs_col: str = "refs",
) -> DataFrame:
    """Breadth-first hop distance from a SET of source nodes over the
    way network — the reachability/service-area primitive (how many
    graph hops from any station / entrance / depot), run as a
    distributed frontier expansion: each round joins the CURRENT
    frontier (only newly-reached nodes, monotonically shrinking in
    connected regions) against the edge table, anti-joins the settled
    set, and stamps the round number. O(radius) rounds of
    frontier-sized joins — the edge table is the only corpus-scale
    side and is traversed once per round via an equi-join on u.
    An eager `localCheckpoint` truncates lineage per round (the
    dup_clusters discipline) and counts the frontier through an
    Observation in the same job; a non-empty round adds one job that
    checkpoints the settled set. Unreached nodes are absent (the
    caller left-joins and fills with NULL/inf); `max_hops` bounds the
    rounds, so a pathological 10^6-long chain costs max_hops rounds,
    not 10^6.

    Returns (node, hops) with hops = minimal edge count from the
    nearest source (0 for the sources themselves). Weighted shortest
    paths are deliberately out of scope — hop BFS is the screening
    pass; exact weighted routing belongs to a router over the
    extracted subgraph."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    edges = way_edges(ways, id_col, refs_col)
    # undirected: traverse both orientations through one table
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)

    settled = frontier = (
        sources.select(F.col(sources.columns[0]).alias("node"), F.lit(0).alias("hops"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for h in range(1, max_hops + 1):
        seen = Observation()
        frontier = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .select(F.col("v").alias("node"), F.lit(h).alias("hops"))
            .join(settled.select("node"), "node", "left_anti")
            .distinct()
            .observe(seen, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if seen.get["n"] == 0:
            break
        settled = settled.unionByName(frontier).localCheckpoint(eager=True)
    return settled


def shortest_distance(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """Multi-source WEIGHTED shortest distances by bounded-round
    distributed Bellman-Ford over an undirected (u, v, w) edge table
    (w a non-negative BIGINT): each round relaxes every edge out of
    the IMPROVED set only — (node, dist) joins the adjacency, a
    hash-agg takes the per-node MIN, and nodes whose best distance
    got better form the next round's frontier, so settled regions stop
    costing anything. Convergence = an empty improved set (early
    exit) or `max_rounds` (a distance then reflects the best path of
    <= max_rounds edges — the screening contract; weighted exact
    routing beyond that belongs to a router over the extracted
    subgraph). localCheckpoint truncates lineage per round. Unlike
    hop_distance's rounds, a round replaces rows rather than appending.

    Returns (node, dist) — dist = minimal edge-weight sum from the
    nearest source (0 for sources). Unreached nodes are absent."""
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    adj = (
        edges.select("u", "v", F.col("w").cast("long").alias("w"))
        .unionByName(
            edges.select(
                F.col("v").alias("u"), F.col("u").alias("v"),
                F.col("w").cast("long").alias("w"),
            )
        )
        .localCheckpoint(eager=True)
    )
    best = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = best
    for _ in range(max_rounds):
        cand = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        joined = cand.join(best, "node", "left")
        improved = (
            joined.filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            break
        best = (
            best.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return best


def way_pagerank(
    ways: DataFrame,
    iters: int = 3,
    id_col: str = "id",
    refs_col: str = "refs",
) -> DataFrame:
    """Integer-arithmetic PageRank over the undirected way network:
    (node_id, rank) after `iters` synchronous power iterations — the
    node-importance measure (intersection centrality) completing the
    graph family next to components/BFS/Bellman-Ford with the
    weighted-PROPAGATION archetype (Page et al. 1999; the Pregel
    textbook example, here as plain DataFrame joins).

    Every quantity is an exact INTEGER: ranks start at scale = 10^12, a
    node passes rank div degree to each neighbor, and the damped update
    is base + (85 * sum) div 100 with base = (scale * 15) div 100.
    Integer division sheds
    remainder mass (a deterministic variant of float PageRank, within
    ~degree/scale relative of it), and buys what float PageRank cannot
    give on a cluster: the per-node SUM of long contributions is
    order-free, so results are bit-identical across partitionings,
    reruns and engines — and the DuckDB oracle replays the iterations
    exactly. Overflow bound (r5 ADVICE fix): the damped accumulation
    sum(c) and the 85 * sum multiply both ride decimal(38,0) — exact to
    ~1e36 total mass, i.e. effectively unbounded (the DuckDB twin sums
    in HUGEINT, same headroom). The remaining true bound is only that a
    single node's final rank fit int64: rank < n_nodes * scale in the
    worst case (a node absorbing all mass), so the 1e12 scale is safe
    to ~9.2M nodes. The earlier long-typed sum overflowed ~100x below
    that bound; the decimal path removes it.

    Scale shape: the symmetric deduplicated adjacency (u, v, deg) is
    built ONCE (one explode + one distinct + one hash agg) and joined
    per iteration against the node-sized rank table — `iters` join +
    agg rounds over a FIXED edge relation, the classic power-iteration
    plan (at 10^12 edges, pre-partition adjacency by u so every round
    reuses the partitioning instead of re-shuffling edges; ranks are
    node-sized and hash-join against it). No driver-side state, no
    collect; localCheckpoint is unnecessary for small fixed `iters`
    since lineage stays linear in rounds.
    """
    if iters < 1:
        raise ValueError(f"way_pagerank: iters must be >= 1, got {iters}")
    scale = 10**12
    edges = way_edges(ways, id_col=id_col, refs_col=refs_col)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    adj = sym.join(deg, "u")
    base = (scale * 15) // 100
    ranks = deg.select(F.col("u").alias("node_id"), F.lit(scale).alias("rank"))
    for _ in range(iters):
        contrib = adj.join(
            ranks, adj["u"] == ranks["node_id"]
        ).select(
            F.col("v").alias("node_id"),
            F.expr("rank div deg").alias("c"),
        )
        ranks = contrib.groupBy("node_id").agg(
            (
                F.lit(base)
                + F.expr(
                    "CAST((85 * sum(CAST(c AS DECIMAL(38,0)))) div 100 AS BIGINT)"
                )
            ).alias("rank")
        )
    return ranks


def way_triangles(
    ways: DataFrame,
    id_col: str = "id",
    refs_col: str = "refs",
) -> DataFrame:
    """Triangles through each node of the way network:
    (node_id, n_triangles) — the clustering/cohesion primitive
    (triadic closure; grid-pattern street blocks vs tree-like rural
    roads) that adds the subgraph-COUNTING archetype to the graph
    family next to components (labeling), BFS/Bellman-Ford (paths) and
    PageRank (propagation).

    Algorithm: the degree-ordered node-iterator join (Suri & Vassilvitskii
    2011, "Counting triangles and the curse of the last reducer"):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one, join oriented (a->b) with (b->c) to wedges, and
    close each wedge against the oriented edge set (a->c). Orientation
    makes every triangle appear EXACTLY once and bounds each node's
    oriented out-degree by O(sqrt(m)) — the hub that would explode a
    naive wedge join generates almost no wedges because nearly all its
    edges point INTO it. That degree trick IS the 100 TB story: wedge
    volume is sum of out-deg^2 <= m^(3/2), not sum of deg^2.

    Scale shape: one distinct + one degree agg + two equi-joins + one
    count agg per endpoint; the per-node counts then sum each closed
    triangle to its three corners via one explode.
    """
    edges = way_edges(ways, id_col=id_col, refs_col=refs_col)
    und = edges.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    ranked = (
        und.join(deg.withColumnRenamed("u", "u_").withColumnRenamed("deg", "du"),
                 F.col("u") == F.col("u_"))
        .drop("u_")
        .join(deg.withColumnRenamed("u", "v_").withColumnRenamed("deg", "dv"),
              F.col("v") == F.col("v_"))
        .drop("v_")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
        F.col("e2.b").alias("c"),
    )
    tris = wedges.join(
        oriented.select(F.col("a").alias("a"), F.col("b").alias("c")),
        ["a", "c"],
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node_id")
    )
    return corners.groupBy("node_id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )
