"""Contact-graph statistics (SURVEY.md §2.8 network descriptor).

The reference builds a residue ε-graph (edge iff 3-D distance <= cutoff,
feature.py:4593-4598) and emits global stats + per-node degree/clustering
plus networkx centralities (feature.py:4601-4609). Implemented here:
degree/triangles/clustering (pure joins), eigenvector centrality (bounded
power iteration of DataFrame joins), connected components (one grouped
NumPy kernel per entity graph, min-label propagation rounds above an edge
budget), level-synchronized BFS shortest paths, closeness, and Brandes
betweenness (exact + Brandes–Pich sampled-source estimator for hub-entity
graphs). The non-iterative slice:

- edge list: banded-range self-join on the 1-D coordinate through
  rangejoin.cell_join — hash equi-join, no nested loop
- degree: groupBy(node) count
- triangles: the standard edge-edge-edge join with id-ordered endpoints
  (each triangle counted once)
- global clustering coefficient = 3*triangles / open+closed triads
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from spark_pit.operators.rangejoin import cell_join


def contact_edges(
    df: DataFrame, entity: str, node_id: str, coord: str, cutoff: float
) -> DataFrame:
    """Undirected edge list (entity, a, b) with a < b and
    |coord_a - coord_b| <= cutoff, via rangejoin.cell_join."""
    pts = df.select(
        F.col(entity).alias("__e"),
        F.col(node_id).alias("a"),
        F.col(coord).alias("va"),
    )
    right = df.select(
        F.col(entity).alias("__e2"),
        F.col(node_id).alias("b"),
        F.col(coord).alias("vb"),
    )
    return (
        cell_join(pts, right, [("__e", "__e2")], [("va", "vb")], cutoff)
        .where((F.col("a") < F.col("b")) & (F.abs(F.col("va") - F.col("vb")) <= cutoff))
        .select(F.col("__e").alias(entity), "a", "b")
        .distinct()
    )


def graph_stats(edges: DataFrame, entity: str) -> DataFrame:
    """Per entity: node count (touched by an edge), edge count, max/avg
    degree, triangle count, global clustering coefficient."""
    und = edges.select(entity, F.col("a").alias("n"), F.col("b").alias("m")).unionByName(
        edges.select(entity, F.col("b").alias("n"), F.col("a").alias("m"))
    )
    deg = und.groupBy(entity, "n").agg(F.count(F.lit(1)).alias("deg"))
    per_entity_deg = deg.groupBy(entity).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("deg").alias("max_degree"),
        F.avg("deg").alias("avg_degree"),
        # triads (open+closed) = sum over nodes of C(deg, 2)
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("n_triads"),
    )
    n_edges = edges.groupBy(entity).agg(F.count(F.lit(1)).alias("n_edges"))
    # triangles: e(a,b) join e(b,c) join e(a,c) with a<b<c — each counted
    # once. Entity keys renamed per copy (self-join lineage).
    e1 = edges.select(
        F.col(entity).alias("__g1"), F.col("a").alias("x"), F.col("b").alias("y")
    )
    e2 = edges.select(
        F.col(entity).alias("__g2"), F.col("a").alias("y2"), F.col("b").alias("z")
    )
    e3 = edges.select(
        F.col(entity).alias("__g3"), F.col("a").alias("x3"), F.col("b").alias("z3")
    )
    tri = (
        e1.join(e2, (F.col("__g1") == F.col("__g2")) & (F.col("y") == F.col("y2")))
        .join(
            e3,
            (F.col("__g1") == F.col("__g3"))
            & (F.col("x") == F.col("x3"))
            & (F.col("z") == F.col("z3")),
        )
        .groupBy(F.col("__g1").alias(entity))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        per_entity_deg.join(n_edges, entity, "left")
        .join(tri, entity, "left")
        .na.fill({"n_triangles": 0})
    )
    return out.withColumn(
        "clustering_coeff",
        F.when(
            F.col("n_triads") > 0,
            3.0 * F.col("n_triangles") / F.col("n_triads"),
        ).otherwise(F.lit(0.0)),
    )


def _undirected(edges: DataFrame, entity: str) -> DataFrame:
    return edges.select(entity, F.col("a").alias("n"), F.col("b").alias("m")).unionByName(
        edges.select(entity, F.col("b").alias("n"), F.col("a").alias("m"))
    )


def eigenvector_centrality(
    edges: DataFrame, entity: str, n_iter: int = 8
) -> DataFrame:
    """Eigenvector centrality per entity graph (reference nx.eigenvector_
    centrality, feature.py:4605) as a FIXED-K power iteration of DataFrame
    joins: v ← ((A+I)·v) / max(·), K times, then L2-normalize. The +I
    (self-loop) term is networkx's own convergence device — it shifts the
    spectrum so bipartite-ish graphs (stars, chains) cannot oscillate,
    while leaving the eigenvectors unchanged.

    Cross-engine determinism (the same discipline as autocorr.py): each
    iterate is quantized to DECIMAL(18,9), so the neighbor-sum is an EXACT
    decimal aggregation (order-independent), the max is exact, and the only
    float ops are one correctly-rounded IEEE divide + sqrt per step — both
    engines produce bit-identical iterates, so a DuckDB oracle unrolling
    the same K stages hash-matches. Fixed K (not convergence-tested) keeps
    the oracle expressible; K=8 is plenty for ε-graph spectral gaps and the
    semantics are "K-step power iteration" on both sides by construction.

    Scale: each step is one shuffle (groupBy on the node key) + one tiny
    per-entity max broadcast-join; lineage is truncated per step with
    localCheckpoint. 100 TB graphs pay K·(1 join + 1 agg) — the canonical
    Spark iterative shape, no driver collect of node data.
    """
    und = _undirected(edges, entity)
    nodes = und.select(entity, "n").distinct()
    # A + I: self-loop rows alongside the undirected adjacency
    adj = und.unionByName(nodes.withColumn("m", F.col("n")))
    v = nodes.withColumn("v", F.lit(1).cast("decimal(18,9)"))
    for _ in range(n_iter):
        s = (
            adj.join(v.select(entity, F.col("n").alias("m"), "v"), [entity, "m"])
            .groupBy(entity, "n")
            .agg(F.sum("v").alias("s"))  # exact decimal sum
        )
        mx = s.groupBy(entity).agg(F.max("s").alias("mx"))
        v = (
            s.join(F.broadcast(mx), entity)
            .select(
                entity, "n",
                (F.col("s").cast("double") / F.col("mx").cast("double"))
                .cast("decimal(18,9)").alias("v"),
            )
            .localCheckpoint(eager=False)
        )
    norm = v.groupBy(entity).agg(
        F.sum(F.col("v") * F.col("v")).alias("ss")  # exact decimal(38,18) sum
    )
    return v.join(F.broadcast(norm), entity).select(
        entity,
        F.col("n").alias("node"),
        F.round(
            F.col("v").cast("double") / F.sqrt(F.col("ss").cast("double")), 6
        ).alias("centrality"),
    )


def shortest_paths(
    edges: DataFrame, entity: str, max_hops: int = 30,
    sources: DataFrame | None = None,
) -> DataFrame:
    """All-pairs hop distances per entity graph (the prerequisite for the
    reference's nx.diameter / nx.average_shortest_path_length /
    nx.closeness_centrality, feature.py:4602-4608): multi-source BFS as
    frontier-expansion DataFrame joins. State is (entity, src, node, dist)
    — O(V²) PER ENTITY, which is the reference's own regime (one bounded
    contact graph per protein/user); across entities the work is fully
    data-parallel and shuffle-partitioned on the entity key. Each hop is
    one join + one anti-join (dedupe against settled pairs), lineage
    truncated per hop; the frontier's size is an Observation on that hop's
    checkpoint job, and the loop exits when a frontier is empty (true BFS
    distances, no cap on correctness — max_hops only bounds the worst case).

    ``sources``: optional (entity, src) frame restricting the BFS to those
    seed sources only — state drops to O(s·V) per entity for s seeds (the
    Brandes–Pich sampling path in betweenness_centrality; round-4 advice:
    sampling must shrink the FORWARD stage, not just the σ/δ sweeps).
    """
    und = _undirected(edges, entity)
    nodes = und.select(entity, "n").distinct()
    if sources is not None:
        # intersect with real nodes so a stray seed can't invent a vertex
        nodes = nodes.join(
            sources.select(entity, F.col("src").alias("n")), [entity, "n"]
        )
    settled = nodes.select(
        entity, F.col("n").alias("src"), F.col("n").alias("node"),
        F.lit(0).alias("dist"),
    ).localCheckpoint()
    frontier = settled
    for hop in range(1, max_hops + 1):
        grown = (
            frontier.join(
                und.select(entity, F.col("n").alias("node"), F.col("m")),
                [entity, "node"],
            )
            .select(entity, "src", F.col("m").alias("node"), F.lit(hop).alias("dist"))
            .distinct()
        )
        obs = Observation()
        fresh = (
            grown.join(
                settled.select(entity, "src", "node"), [entity, "src", "node"], "left_anti"
            )
            .observe(obs, F.count(F.lit(1)).alias("fresh"))
            .localCheckpoint()
        )
        if obs.get["fresh"] == 0:
            break
        settled = settled.unionByName(fresh).localCheckpoint()
        frontier = fresh
    return settled


def path_stats(sp: DataFrame, entity: str) -> DataFrame:
    """Per entity: diameter and average shortest path length over CONNECTED
    ordered pairs (networkx raises on disconnected graphs, feature.py wraps
    the call in try/except — here disconnected entities get within-component
    stats instead, documented deviation)."""
    pairs = sp.where(F.col("src") != F.col("node"))
    return pairs.groupBy(entity).agg(
        F.max("dist").alias("diameter"),
        (F.sum("dist") / F.count(F.lit(1))).alias("avg_path_len"),
    )


def closeness_centrality(sp: DataFrame, entity: str) -> DataFrame:
    """Per-node closeness (reference nx.closeness_centrality,
    feature.py:4607), Wasserman–Faust form for disconnected graphs exactly
    as networkx computes it: with r = nodes reachable from u (incl. u) and
    n = nodes in the entity graph,  C(u) = ((r-1)/Σdist) · ((r-1)/(n-1))."""
    n_nodes = sp.where(F.col("dist") == 0).groupBy(entity).agg(
        F.count(F.lit(1)).alias("n")
    )
    per_src = sp.groupBy(entity, "src").agg(
        F.count(F.lit(1)).alias("r"), F.sum("dist").alias("sd")
    )
    return (
        per_src.join(F.broadcast(n_nodes), entity)
        .select(
            entity,
            F.col("src").alias("node"),
            F.when(
                (F.col("sd") > 0) & (F.col("n") > 1),
                ((F.col("r") - 1) / F.col("sd")) * ((F.col("r") - 1) / (F.col("n") - 1)),
            ).otherwise(F.lit(0.0)).alias("closeness"),
        )
    )


def dbscan_clusters(
    edges: DataFrame,
    nodes: DataFrame,
    entity: str,
    min_pts: int = 3,
) -> DataFrame:
    """EXACT distributed DBSCAN given the ε-neighbor pair list (reference
    iAnalysis DBSCAN row, feature.py:4838-4850 — sklearn's is exact too;
    the distributed re-expression): a node is CORE iff its ε-neighborhood
    (itself included) has ≥ min_pts members; clusters are the connected
    components of the core-core subgraph; a non-core node adjacent to a
    core joins that core's cluster (smallest cluster id on ties, the
    deterministic choice sklearn leaves unspecified); everything else is
    NOISE (cluster NULL). ``edges`` is whatever ε-pair generator fits the
    space — the banded 1-D contact_edges here, the LSH candidates for
    embeddings — so the density scan itself is one degree aggregation, and
    the clusters are ``connected_components`` of the core edges (the
    grouped kernel; propagation rounds only above its edge budget).

    Returns (entity, node, is_core, cluster) for EVERY node in ``nodes``
    (isolated points included — noise)."""
    # the pair list feeds four branches (degree scan, core filter ×2,
    # border attach) — materialize it once instead of recomputing the
    # upstream ε-join per branch (at scale: cache/checkpoint the edges)
    edges = edges.localCheckpoint()
    und = _undirected(edges, entity)
    deg = und.groupBy(entity, "n").agg(F.count(F.lit(1)).alias("deg"))
    base = nodes.select(entity, F.col(nodes.columns[1]).alias("n")).distinct()
    marked = (
        base.join(deg, [entity, "n"], "left")
        .na.fill({"deg": 0})
        .withColumn("is_core", F.col("deg") + 1 >= min_pts)
        .select(entity, "n", "is_core")
        .localCheckpoint()
    )
    core = marked.where("is_core").select(entity, "n")
    core_edges = (
        edges.join(core.withColumnRenamed("n", "a"), [entity, "a"])
        .join(core.withColumnRenamed("n", "b"), [entity, "b"])
        .select(entity, "a", "b")
    )
    cc = connected_components(core_edges, entity).withColumnRenamed(
        "node", "n"
    )
    # isolated core points (no core neighbor) form singleton clusters
    core_cl = core.join(cc, [entity, "n"], "left").select(
        entity, "n", F.coalesce("component", F.col("n")).alias("cluster")
    )
    # border: non-core adjacent to ≥1 core — smallest adjacent core cluster
    border = (
        und.join(core_cl.select(entity, F.col("n").alias("m"), "cluster"), [entity, "m"])
        .join(marked.where(~F.col("is_core")).select(entity, "n"), [entity, "n"])
        .groupBy(entity, "n")
        .agg(F.min("cluster").alias("cluster"))
    )
    assign = core_cl.unionByName(border)
    return (
        marked.join(assign, [entity, "n"], "left")
        .select(entity, F.col("n").alias("node"), "is_core", "cluster")
    )


def betweenness_centrality(
    edges: DataFrame,
    entity: str,
    max_hops: int = 30,
    sample_sources: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Betweenness centrality (reference nx.betweenness_centrality,
    feature.py:4606; networkx-default NORMALIZED form, undirected:
    raw/((n-1)(n-2)/2... scaled by 2/((n-1)(n-2)))) via Brandes' algorithm
    as level-synchronized DataFrame sweeps over the BFS distances:

    - forward: σ(src,v) = Σ_{u∈preds(v)} σ(src,u), one join + partial-agg
      groupBy per BFS level (σ = number of shortest src→v paths)
    - backward: δ(src,v) = Σ_{w∈succs(v)} σ_v/σ_w · (1+δ(src,w)), one join +
      groupBy per level, deepest level first
    - betweenness(v) = Σ_{src≠v} δ(src,v) / 2 (undirected double-count),
      then the networkx normalization 2/((n-1)(n-2)).

    Per-entity state is O(V²) like shortest_paths — the reference's own
    per-graph regime (protein contact graphs, V ≈ sequence length).

    ``sample_sources=s`` switches to the Brandes–Pich sampled estimator:
    per entity, only s seeded sources (xxhash64 rank — deterministic,
    partitioning-invariant) drive the sweeps and every contribution is
    scaled by V/s, so state drops to O(s·V) per entity. This removes the
    100×-scale hazard of one hub entity with a 10⁵-node graph stalling
    the stage (exact Brandes holds 10¹⁰ (src, node) rows for it; s=64
    sampled holds 6.4M). Exact (sample_sources=None) stays the default
    and the oracle path; sampled ≈ exact is asserted on the fixture
    graphs in tests/test_graph_iter.
    """
    from pyspark.sql import Window

    und = _undirected(edges, entity)
    n_src = None
    if sample_sources is not None:
        # sample from the NODE LIST first, then seed the BFS at only the
        # sampled sources — the forward stage itself is O(s·V), not a
        # post-filter over an already-materialized all-pairs BFS
        # (round-4 advice, graph.py:362)
        srcs = (
            und.select(entity, F.col("n").alias("src")).distinct()
            .withColumn(
                "__r",
                F.row_number().over(
                    Window.partitionBy(entity).orderBy(
                        F.xxhash64(F.col("src").cast("string"), F.lit(seed)), "src"
                    )
                ),
            )
            .where(F.col("__r") <= sample_sources)
            .select(entity, "src")
            .localCheckpoint()
        )
        sp = shortest_paths(edges, entity, max_hops, sources=srcs)
        n_src = srcs.groupBy(entity).agg(F.count(F.lit(1)).alias("__s"))
    else:
        sp = shortest_paths(edges, entity, max_hops)
    d_max = sp.agg(F.max("dist")).first()[0] or 0
    # ---- forward sweep: path counts σ per (src, node), level by level
    sigma = sp.where(F.col("dist") == 0).select(
        entity, "src", "node", F.lit(1).cast("double").alias("sigma")
    ).localCheckpoint()
    sig_levels = {0: sigma}
    for d in range(1, d_max + 1):
        lvl = sp.where(F.col("dist") == d).select(entity, "src", "node")
        s = (
            sig_levels[d - 1]
            .join(und.select(entity, F.col("n").alias("node"), "m"), [entity, "node"])
            .select(entity, "src", F.col("m").alias("node"), "sigma")
            .join(lvl, [entity, "src", "node"])  # only true level-d nodes
            .groupBy(entity, "src", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint()
        )
        sig_levels[d] = s
    # ---- backward sweep: dependencies δ, deepest level first
    delta_acc = None  # accumulated betweenness contributions per (entity, node)
    delta_lvl = sig_levels[d_max].select(
        entity, "src", "node", F.lit(0.0).alias("delta")
    ) if d_max > 0 else None
    for d in range(d_max, 0, -1):
        w = sig_levels[d].join(
            delta_lvl.select(entity, "src", "node", "delta"),
            [entity, "src", "node"], "left",
        ).na.fill({"delta": 0.0}).select(
            entity, "src", F.col("node").alias("w"),
            ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("__coef"),  # (1+δw)/σw
        )
        contrib = (
            w.join(und.select(entity, F.col("n").alias("w"), "m"), [entity, "w"])
            .select(entity, "src", F.col("m").alias("node"), "__coef")
            .join(sig_levels[d - 1], [entity, "src", "node"])  # preds only
            .select(entity, "src", "node", (F.col("sigma") * F.col("__coef")).alias("c"))
            .groupBy(entity, "src", "node")
            .agg(F.sum("c").alias("delta"))
            .localCheckpoint()
        )
        delta_lvl = contrib
        part = contrib.where(F.col("src") != F.col("node")).groupBy(entity, "node").agg(
            F.sum("delta").alias("b")
        )
        delta_acc = part if delta_acc is None else delta_acc.unionByName(part)
    nodes = und.select(entity, "n").distinct()
    n_nodes = nodes.groupBy(entity).agg(F.count(F.lit(1)).alias("__n"))
    if delta_acc is None:
        return nodes.select(entity, F.col("n").alias("node"), F.lit(0.0).alias("betweenness"))
    raw = delta_acc.groupBy(entity, "node").agg((F.sum("b") / 2.0).alias("raw"))
    out = (
        nodes.select(entity, F.col("n").alias("node"))
        .join(raw, [entity, "node"], "left")
        .na.fill({"raw": 0.0})
        .join(F.broadcast(n_nodes), entity)
    )
    if n_src is not None:
        # Brandes–Pich extrapolation: scale sampled-source sums by V/s
        out = out.join(F.broadcast(n_src), entity).withColumn(
            "raw", F.col("raw") * F.col("__n") / F.col("__s")
        )
    return out.select(
        entity, "node",
        F.when(
            F.col("__n") > 2,
            F.col("raw") * 2.0 / ((F.col("__n") - 1) * (F.col("__n") - 2)),
        ).otherwise(F.lit(0.0)).alias("betweenness"),
    )


# The grouped kernel holds one entity graph in one Python worker. Its peak
# memory per input edge, with int64 ids, is _CC_BYTES_PER_EDGE: the Arrow
# table, its pandas copy, np.unique's sort and the label arrays, measured
# as the peak-RSS growth of a process running the kernel on random sparse
# graphs of 1M and 4M edges (135-137 bytes). The budget lets one graph use
# _CC_KERNEL_BYTES; above it the edges stay distributed and the
# propagation loop runs instead.
_CC_BYTES_PER_EDGE = 137
_CC_KERNEL_BYTES = 512 << 20
CC_EDGE_BUDGET = _CC_KERNEL_BYTES // _CC_BYTES_PER_EDGE


def min_label_components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(nodes, component)`` of the undirected graph with edges ``a[i]-b[i]``:
    every node touched by an edge, sorted, and the smallest node of its
    component. Node ids map to dense ids with ``np.unique``, so ids of any
    orderable dtype work and dense order is id order. Then a hook step and
    pointer jumping repeat until a round changes nothing: each edge lowers
    the label of one endpoint's root to the other endpoint's label
    (``np.minimum.at(lab, lab[a], lab[b])``, both ways round), and
    ``lab = lab[lab]`` runs until every label is a root. Labels only fall
    and always name a node of the same component, so the fixpoint labels
    each component with its smallest node."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(nodes))
    while True:
        prev = lab.copy()
        np.minimum.at(lab, lab[ea], lab[eb])
        np.minimum.at(lab, lab[eb], lab[ea])
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, prev):
            return nodes, nodes[lab]


def connected_components(edges: DataFrame, entity: str) -> DataFrame:
    """Connected components per entity graph (reference nx.connected_
    components / global diameter prerequisites, feature.py:4601-4609): the
    component id is the smallest node id in the component (deterministic),
    computed to the fixpoint. Integer-only, so bit-exact against the
    unbounded recursive-CTE oracle.

    The edge list is localCheckpointed ONCE at entry: callers like
    dedup_clusters feed an edge plan that is itself a multi-stage pipeline
    (MinHash signatures → band join → Jaccard verify), and the checkpoint
    keeps the components from re-planning that lineage. The edge count is
    an Observation on that checkpoint job, so it costs no job of its own;
    it counts every entity graph together, an upper bound on the largest.

    Up to ``CC_EDGE_BUDGET`` edges, the components are one grouped NumPy
    kernel (:func:`min_label_components`, ``groupBy(entity).applyInPandas``)
    that runs with the rest of the plan, so no other job runs while the plan
    is built. Above it, min-label propagation keeps the graph distributed:
    every node starts labeled with its own id and each round takes the min
    over its neighbors and itself, one join + one groupBy shuffle behind an
    eager localCheckpoint, until a round changes no label (rounds = graph
    diameter). Both paths return the same rows and types.
    """
    obs = Observation()
    edges = (
        edges.select(entity, "a", "b")
        .observe(obs, F.count(F.lit(1)).alias("edges"))
        .localCheckpoint()
    )
    if obs.get["edges"] <= CC_EDGE_BUDGET:
        return _components_grouped(edges, entity)
    return _components_propagated(edges, entity)


def _components_grouped(edges: DataFrame, entity: str) -> DataFrame:
    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes, comp = min_label_components(pdf["a"].to_numpy(), pdf["b"].to_numpy())
        return pd.DataFrame(
            {entity: np.repeat(pdf[entity].to_numpy()[:1], len(nodes)),
             "node": nodes, "component": comp}
        )

    # both endpoints' common type, as the propagation loop's union gives it
    node_type = _undirected(edges, entity).schema["n"].dataType
    schema = StructType([
        StructField(entity, edges.schema[entity].dataType),
        StructField("node", node_type),
        StructField("component", node_type),
    ])
    return edges.groupBy(entity).applyInPandas(kern, schema)


def _components_propagated(edges: DataFrame, entity: str) -> DataFrame:
    # the adjacency gets SELF-LOOPS once, so each round is one join + one
    # min-aggregate: min over neighbors-including-self IS least(own,
    # neighborhood min). The self-loop row also delivers the node's OWN
    # previous label through the same join, so the convergence flag
    # (labels only fall: changed ⟺ new < old) rides the same aggregate,
    # counted by an Observation on the round's checkpoint job.
    und = _undirected(edges, entity)
    nodes = und.select(entity, "n").distinct()
    und2 = und.unionByName(nodes.withColumn("m", F.col("n"))).localCheckpoint()
    # seed = one aggregation: min over neighbors-including-self
    lab = und2.groupBy(entity, "n").agg(F.min("m").alias("c")).localCheckpoint()
    while True:
        obs = Observation()
        nxt = (
            und2.join(
                lab.select(entity, F.col("n").alias("m"), F.col("c").alias("cm")),
                [entity, "m"],
            )
            .groupBy(entity, "n")
            .agg(
                F.min("cm").alias("c"),
                F.min(F.when(F.col("m") == F.col("n"), F.col("cm"))).alias("__c_old"),
            )
            .observe(obs, F.count_if(F.col("c") != F.col("__c_old")).alias("changed"))
            .localCheckpoint()
        )
        lab = nxt.select(entity, "n", "c")
        if obs.get["changed"] == 0:
            break
    return lab.select(entity, F.col("n").alias("node"), F.col("c").alias("component"))


def pagerank(
    edges: DataFrame, entity: str, n_iter: int = 6, damping: float = 0.85
) -> DataFrame:
    """PageRank per entity graph (undirected: each edge contributes both
    directions, networkx's nx.pagerank convention for Graph inputs) as a
    fixed-K iteration of DataFrame joins:

        pr_k(n) = (1-d)/N + d * sum_{m in nbrs(n)} pr_{k-1}(m) / deg(m)

    Cross-engine determinism (the mean_shift round-3 discipline, NOT the
    double->decimal cast): iterates live as INT64 NANO-UNITS. Every
    float step is a single correctly-rounded IEEE op sequence both
    engines share — per-edge contribution floor(q/deg + 0.5), per-node
    mix floor((1-d)*1e9/N + d*S + 0.5) — and everything between is exact
    integer arithmetic, so a DuckDB oracle unrolling the identical K
    stages matches bit-for-bit. Output keeps the rank as INTEGER nanos
    (pagerank_nano) — no float ever leaves the operator.

    Scale: per step one groupBy(node) shuffle + lineage truncation via
    localCheckpoint — the same K*(join + partial agg) shape as
    eigenvector_centrality; degrees computed once.
    """
    d = float(damping)
    und = _undirected(edges, entity)
    deg = und.groupBy(entity, "n").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.groupBy(entity).agg(F.count(F.lit(1)).alias("nn"))
    base = deg.join(F.broadcast(n_nodes), entity)
    # pr_0 = 1/N in nanos: one IEEE divide + floor, identical cross-engine
    pr = base.select(
        entity, "n", "deg", "nn",
        F.floor(F.lit(1e9) / F.col("nn").cast("double") + F.lit(0.5))
        .cast("long").alias("q"),
    )
    teleport_nano = (1.0 - d) * 1e9
    for _ in range(n_iter):
        contrib = pr.select(
            entity,
            F.col("n").alias("m"),
            F.floor(
                F.col("q").cast("double") / F.col("deg").cast("double") + F.lit(0.5)
            ).cast("long").alias("c"),
        )
        s = (
            und.join(contrib, [entity, "m"])
            .groupBy(entity, "n")
            .agg(F.sum("c").alias("s"))  # exact integer sum
        )
        pr = (
            base.join(s, [entity, "n"], "left")
            .select(
                entity, "n", "deg", "nn",
                F.floor(
                    F.lit(teleport_nano) / F.col("nn").cast("double")
                    + F.lit(d) * F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    + F.lit(0.5)
                ).cast("long").alias("q"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(entity, F.col("n").alias("node"), F.col("q").alias("pagerank_nano"))
