"""Contact-graph statistics (SURVEY.md §2.8 network descriptor).

The reference builds a residue ε-graph (edge iff 3-D distance <= cutoff,
feature.py:4593-4598) and emits global stats, per-node degree/clustering
and networkx centralities (feature.py:4601-4609): one bounded graph per
protein, so many small graphs, one per entity. Edge list (banded
rangejoin.cell_join), degrees, triangles (edge-edge-edge join on id-ordered
endpoints), clustering coefficient, diameter and closeness are DataFrame
joins and aggregations. Everything iterative — BFS, Brandes betweenness,
PageRank, eigenvector, DBSCAN, components — is one NumPy function on one
entity's CSR (:class:`Graph`), run by one grouped kernel per entity graph
(:func:`_per_entity`) inside the plan, so building it launches no job. A
graph above ``CC_EDGE_BUDGET`` edges or ``CELL_BUDGET`` all-pairs cells
raises ``ValueError`` naming the entity; only ``connected_components``
keeps a distributed path above the edge budget, as ``dedup_clusters``
sends a whole corpus through it as one graph.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DataType, DoubleType, IntegerType, LongType, StructField, StructType,
)

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


def _undirected(edges: DataFrame, entity: str) -> DataFrame:
    return edges.select(entity, F.col("a").alias("n"), F.col("b").alias("m")).unionByName(
        edges.select(entity, F.col("b").alias("n"), F.col("a").alias("m"))
    )


def graph_stats(edges: DataFrame, entity: str) -> DataFrame:
    """Per entity: node count (touched by an edge), edge count, max/avg
    degree, triangle count, global clustering coefficient."""
    deg = _undirected(edges, entity).groupBy(entity, "n").agg(
        F.count(F.lit(1)).alias("deg")
    )
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


# The grouped kernel holds one entity graph in one Python worker, within
# _CC_KERNEL_BYTES. Peak memory per input edge (int64 ids: the Arrow table,
# its pandas copy, np.unique's sort, the label arrays) is _CC_BYTES_PER_EDGE,
# the peak-RSS growth of the kernel on random graphs of 1M and 4M edges
# (135-137 bytes). BFS and Brandes hold per source a row of distances, σ
# and δ, and each level gathers one entry per (source, frontier node,
# neighbour): per source x (node + CSR entry) cell, 17-43 bytes with the
# output rows, measured likewise at 1.4k-2.8k nodes and average degree
# 2-10. Budgets are read when a plan is built and travel with its kernel.
_CC_BYTES_PER_EDGE = 137
_CC_KERNEL_BYTES = 512 << 20
CC_EDGE_BUDGET = _CC_KERNEL_BYTES // _CC_BYTES_PER_EDGE
_BYTES_PER_CELL = 48
CELL_BUDGET = _CC_KERNEL_BYTES // _BYTES_PER_CELL


class Graph(NamedTuple):
    """One entity's graph in dense ids: ``ids[k]`` is dense id k's node id
    (sorted, so dense order is id order), ``ea``/``eb`` each input edge's
    dense endpoints, ``indptr``/``nbr`` the CSR holding every edge both ways
    (duplicates and self-loops kept, as the union of both directions)."""

    ids: np.ndarray
    ea: np.ndarray
    eb: np.ndarray
    indptr: np.ndarray
    nbr: np.ndarray


def to_graph(a: np.ndarray, b: np.ndarray, *extra_ids: np.ndarray) -> Graph:
    """The :class:`Graph` of the edges ``a[i]-b[i]``; ``extra_ids`` adds
    nodes that may have no edge."""
    ids, inv = np.unique(np.concatenate([a, b, *extra_ids]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a): 2 * len(a)]
    src, dst = np.concatenate([ea, eb]), np.concatenate([eb, ea])
    indptr = np.zeros(len(ids) + 1, np.int64)
    np.cumsum(np.bincount(src, minlength=len(ids)), out=indptr[1:])
    return Graph(ids, ea, eb, indptr, dst[np.argsort(src, kind="stable")])


def _all_pairs_cells(g: Graph, sources: int | None = None) -> int:
    """State cells of :func:`bfs_levels` from ``sources`` sources (all
    nodes by default): per source, one per node and one per CSR entry."""
    n = len(g.ids)
    return min(n, sources or n) * (n + len(g.nbr))


def kernel_budget(entity: str, unit: str = "edges", hint: str = "") -> Callable[..., None]:
    """The per-entity kernels' one scale guard, its budgets read at plan time:
    ``check(key, what, size, cells)`` raises ``ValueError`` naming entity
    ``key`` above ``CC_EDGE_BUDGET`` ``unit`` or ``CELL_BUDGET`` cells."""
    size_budget, cell_budget = CC_EDGE_BUDGET, CELL_BUDGET

    def check(key, what: str, size: int, cells: int = 0) -> None:
        if size > size_budget or cells > cell_budget:
            raise ValueError(
                f"{entity}={key}: {what} ({cells} state cells) is over the per-entity"
                f" kernel budget of {size_budget} {unit} and {cell_budget} cells{hint}"
            )

    return check


def _per_entity(
    edges: DataFrame,
    entity: str,
    fields: list[tuple[str, DataType | None]],
    algo: Callable[..., dict],
    carry: tuple = (),
    nodes: DataFrame | None = None,
    cells: Callable[[Graph], int] | None = None,
    hint: str = "",
) -> DataFrame:
    """Run ``algo`` once per entity graph inside the plan:
    ``edges.groupBy(entity).applyInPandas``, or, given a ``nodes`` frame
    (entity, node id), a cogroup of ``nodes`` and ``edges`` whose node ids
    join the graph even without an edge. ``algo(g, pdf)`` — or
    ``algo(g, pdf, npdf)`` with ``nodes`` — gets the :class:`Graph` and the
    group's edge rows (entity, a, b and the ``carry`` columns) and returns
    the output columns named by ``fields``, whose type ``None`` stands for
    the node ids' type; the entity column is prepended.

    A graph above ``CC_EDGE_BUDGET`` edges, or whose all-pairs state
    ``cells(g)`` exceeds ``CELL_BUDGET``, raises ``ValueError``
    (:func:`kernel_budget`) naming the entity, its node and edge counts and
    the budget, plus ``hint``."""
    check = kernel_budget(entity, hint=hint)

    def run(key, pdf: pd.DataFrame, *npdf: pd.DataFrame) -> pd.DataFrame:
        g = to_graph(pdf["a"].to_numpy(), pdf["b"].to_numpy(),
                     *(f.iloc[:, 1].to_numpy() for f in npdf))
        check(key[0], f"graph of {len(g.ids)} nodes and {len(pdf)} edges", len(pdf),
              0 if cells is None else cells(g))
        cols = algo(g, pdf, *npdf)
        n = len(next(iter(cols.values())))
        return pd.DataFrame({entity: np.repeat(key, n), **cols})

    nt = _undirected(edges, entity).schema["n"].dataType  # as the union types it
    schema = StructType(
        [StructField(entity, edges.schema[entity].dataType)]
        + [StructField(name, dtype or nt) for name, dtype in fields]
    )
    edges = edges.select(entity, "a", "b", *carry)
    if nodes is None:
        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            return run(pdf[entity].to_numpy()[:1], pdf)

        return edges.groupBy(entity).applyInPandas(kern, schema)

    def kern(key, npdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        return run(key, pdf, npdf)

    return nodes.groupBy(entity).cogroup(edges.groupBy(entity)).applyInPandas(kern, schema)


def _expand(indptr, nbr, nodes):
    """One CSR gather for a whole frontier: ``(k, m)`` holds one entry per
    neighbour ``m`` of ``nodes[k]``, for every ``k``."""
    cnt = indptr[nodes + 1] - indptr[nodes]
    k = np.repeat(np.arange(len(nodes)), cnt)
    pos = np.arange(len(k)) + np.repeat(indptr[nodes] - (np.cumsum(cnt) - cnt), cnt)
    return k, nbr[pos]


def bfs_levels(indptr, nbr, sources, max_hops: int = 30):
    """Level-synchronous BFS from every source at once. Returns ``dist``
    (sources × nodes, int32, -1 where unreached), ``sigma`` (float64, the
    number of shortest paths) and ``levels``: per BFS level ``d``, the
    (source row, node) pairs at distance ``d``. Each level is one gather
    over the CSR across every (source, frontier node) pair, so the Python
    steps number the BFS depth, not the sources. Distances stop at
    ``max_hops`` (the oracle's ``p.d < 30`` recursion bound)."""
    n, sources = len(indptr) - 1, np.asarray(sources, np.int64)
    rows = np.arange(len(sources))
    dist = np.full((len(sources), n), -1, np.int32)
    sigma = np.zeros((len(sources), n))
    dist[rows, sources] = 0
    sigma[rows, sources] = 1.0
    levels = [(rows, sources)]
    for d in range(1, max_hops + 1):
        fr, fn = levels[-1]
        k, m = _expand(indptr, nbr, fn)
        r = fr[k]
        fresh = dist[r, m] < 0
        dist[r[fresh], m[fresh]] = d
        on = dist[r, m] == d
        if not on.any():
            break
        k, r, m = k[on], r[on], m[on]
        np.add.at(sigma, (r, m), sigma[r, fn[k]])
        cell = np.unique(r * n + m)
        levels.append((cell // n, cell % n))
    return dist, sigma, levels


def brandes_betweenness(indptr, nbr, sources=None, max_hops: int = 30) -> np.ndarray:
    """networkx-normalized betweenness per node (undirected: raw/2 scaled by
    2/((n-1)(n-2)), 0 for n <= 2) by Brandes over :func:`bfs_levels`: the
    dependencies δ(s,v) = Σ_{w: v pred of w} σ(s,v)/σ(s,w)·(1+δ(s,w))
    accumulate deepest level first, one CSR gather per level. Given
    ``sources`` (Brandes–Pich sampling), only those drive the sweeps and the
    sums scale by n/len(sources)."""
    n = len(indptr) - 1
    src = np.arange(n) if sources is None else np.asarray(sources, np.int64)
    dist, sigma, levels = bfs_levels(indptr, nbr, src, max_hops)
    delta = np.zeros_like(sigma)
    for d in range(len(levels) - 1, 0, -1):
        fr, fn = levels[d]
        coef = (1.0 + delta[fr, fn]) / sigma[fr, fn]
        k, m = _expand(indptr, nbr, fn)
        r = fr[k]
        up = dist[r, m] == d - 1
        k, r, m = k[up], r[up], m[up]
        np.add.at(delta, (r, m), sigma[r, m] * coef[k])
    delta[np.arange(len(src)), src] = 0.0
    raw = delta.sum(axis=0) / 2.0
    if sources is not None:
        raw = raw * n / len(src)
    if n <= 2:
        return np.zeros(n)
    return raw * 2.0 / ((n - 1) * (n - 2))


def pagerank_nanos(indptr, nbr, n_iter: int = 6, damping: float = 0.85) -> np.ndarray:
    """K-step undirected PageRank in int64 nano-units, the steps of the
    oracle's SQL: pr_0 = floor(1e9/N + 0.5); per step each node sends
    floor(q/deg + 0.5) along every edge, the sums are exact int64, and
    q = floor((1-d)·1e9/N + d·S + 0.5)."""
    n = len(indptr) - 1
    deg = np.diff(indptr).astype(np.float64)
    q = np.full(n, np.floor(1e9 / float(n) + 0.5)).astype(np.int64)
    tele = (1.0 - damping) * 1e9
    for _ in range(n_iter):
        c = np.floor(q.astype(np.float64) / deg + 0.5).astype(np.int64)
        s = np.add.reduceat(c[nbr], indptr[:-1])  # exact; every node has an edge
        q = np.floor(tele / float(n) + damping * s.astype(np.float64) + 0.5).astype(np.int64)
    return q


def decimal_nanos(x: np.ndarray) -> np.ndarray:
    """Spark's ``CAST(double AS DECIMAL(18,9))`` as int64 nano-units: the
    double's shortest decimal string rounded HALF_UP. For |x| <= 1, as every
    iterate s/max is, ``floor(x·1e9 + 0.5)`` (rounding error below 1.2e-7)
    gives that more than 1e-6 from a half; nearer one, the string is rounded."""
    y = np.asarray(x, np.float64) * 1e9
    q = np.floor(y + 0.5)
    for i in np.flatnonzero(np.abs(y - np.floor(y) - 0.5) < 1e-6):
        q[i] = int(Decimal(repr(float(x[i]))).scaleb(9).quantize(Decimal(1), ROUND_HALF_UP))
    return q.astype(np.int64)


def eigenvector_nanos(indptr, nbr, n_iter: int = 8) -> np.ndarray:
    """K-step power iteration v ← ((A+I)·v) / max(·) from v = 1, each
    iterate quantized to DECIMAL(18,9) as Spark casts it, held as int64
    nanos: the sums and the max are exact, the ratio is one IEEE divide of
    the correctly rounded doubles s/1e9 and max/1e9."""
    v = np.full(len(indptr) - 1, 10**9, np.int64)
    for _ in range(n_iter):
        s = (v + np.add.reduceat(v[nbr], indptr[:-1])).astype(np.float64) / 1e9
        v = decimal_nanos(s / s.max())
    return v


def _min_labels(ea: np.ndarray, eb: np.ndarray, n: int) -> np.ndarray:
    """Per dense node, the smallest dense node of its component over the
    edges ``ea[i]-eb[i]`` (see :func:`min_label_components`)."""
    lab = np.arange(n)
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
            return lab


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
    return nodes, nodes[_min_labels(inv[: len(a)], inv[len(a):], len(nodes))]


def dbscan_labels(g: Graph, listed: np.ndarray, min_pts: int) -> tuple[np.ndarray, np.ndarray]:
    """``(is_core, cluster)`` per dense node; ``cluster`` is a dense id, -1
    for noise. Only ``listed`` nodes can be core or border. A node is core
    iff its ε-neighbourhood, itself included, has >= ``min_pts`` members;
    core clusters are the components of the core-core edges, labelled by
    their smallest node; a non-core node adjacent to a core takes the
    smallest adjacent core cluster."""
    n = len(g.ids)
    deg = np.diff(g.indptr)
    core = listed & (deg + 1 >= min_pts)
    both = core[g.ea] & core[g.eb]
    cluster = np.where(core, _min_labels(g.ea[both], g.eb[both], n), -1)
    node = np.repeat(np.arange(n), deg)
    att = core[g.nbr] & listed[node] & ~core[node]
    border = np.full(n, n)
    np.minimum.at(border, node[att], cluster[g.nbr[att]])
    return core, np.where(border < n, border, cluster)


def shortest_paths(edges: DataFrame, entity: str, max_hops: int = 30) -> DataFrame:
    """All-pairs hop distances per entity graph (the prerequisite for the
    reference's nx.diameter / nx.average_shortest_path_length /
    nx.closeness_centrality, feature.py:4602-4608): rows (entity, src,
    node, dist int) for every connected ordered pair, (v, v, 0) included,
    from :func:`bfs_levels` over all sources at once. State is O(V²) per
    entity (``CELL_BUDGET``), the reference's own regime; ``max_hops``
    caps the distances."""
    def algo(g: Graph, _pdf) -> dict:
        dist = bfs_levels(g.indptr, g.nbr, np.arange(len(g.ids)), max_hops)[0]
        s, n = np.nonzero(dist >= 0)
        return {"src": g.ids[s], "node": g.ids[n], "dist": dist[s, n]}

    return _per_entity(
        edges, entity, [("src", None), ("node", None), ("dist", IntegerType())], algo,
        cells=_all_pairs_cells,
    )


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
    per_src = sp.groupBy(entity, "src").agg(
        F.count(F.lit(1)).alias("r"), F.sum("dist").alias("sd")
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(entity))  # every node is a source
    return per_src.select(
        entity,
        F.col("src").alias("node"),
        F.when(
            (F.col("sd") > 0) & (n > 1),
            ((F.col("r") - 1) / F.col("sd")) * ((F.col("r") - 1) / (n - 1)),
        ).otherwise(F.lit(0.0)).alias("closeness"),
    )


def betweenness_centrality(
    edges: DataFrame, entity: str, max_hops: int = 30,
    sample_sources: int | None = None, seed: int = 42,
) -> DataFrame:
    """Betweenness centrality (reference nx.betweenness_centrality,
    feature.py:4606; the networkx-default NORMALIZED undirected form) per
    entity graph: (entity, node, betweenness) from
    :func:`brandes_betweenness`. Exact Brandes holds every source's state
    per entity and raises above ``CELL_BUDGET``.

    ``sample_sources=s`` switches to the Brandes–Pich sampled estimator:
    per entity, only s sources drive the sweeps and every contribution is
    scaled by V/s, so the state is s sources'. The sources are the first s
    nodes by (xxhash64(cast(node as string), seed), node) — deterministic
    and partitioning-invariant; the hashes are computed in the JVM as two
    columns on the edges. With s >= V it equals exact Brandes."""
    ranks = () if sample_sources is None else tuple(
        F.xxhash64(F.col(c).cast("string"), F.lit(seed)).alias(f"h{c}") for c in "ab"
    )

    def algo(g: Graph, pdf: pd.DataFrame) -> dict:
        src = None
        if sample_sources is not None:
            h = np.empty(len(g.ids), np.int64)
            h[g.ea], h[g.eb] = pdf["ha"].to_numpy(), pdf["hb"].to_numpy()
            src = np.lexsort((np.arange(len(h)), h))[:sample_sources]
        return {"node": g.ids,
                "betweenness": brandes_betweenness(g.indptr, g.nbr, src, max_hops)}

    return _per_entity(
        edges, entity, [("node", None), ("betweenness", DoubleType())], algo, carry=ranks,
        cells=lambda g: _all_pairs_cells(g, sample_sources),
        hint="; sample_sources=s bounds the state to s sources",
    )


def pagerank(edges: DataFrame, entity: str, n_iter: int = 6, damping: float = 0.85) -> DataFrame:
    """PageRank per entity graph (undirected: each edge contributes both
    directions, networkx's nx.pagerank convention for Graph inputs), a
    fixed K steps of pr_k(n) = (1-d)/N + d·Σ_{m∈nbrs(n)} pr_{k-1}(m)/deg(m).

    Cross-engine determinism (the mean_shift round-3 discipline, NOT the
    double->decimal cast): iterates live as INT64 NANO-UNITS
    (:func:`pagerank_nanos`). Every float step is one correctly-rounded
    IEEE op sequence both engines share and everything between is exact
    integer arithmetic, so it matches a DuckDB oracle unrolling the same K
    stages bit-for-bit. The output rank stays INTEGER nanos
    (pagerank_nano) — no float ever leaves the operator."""
    def algo(g: Graph, _pdf) -> dict:
        return {"node": g.ids, "pagerank_nano": pagerank_nanos(g.indptr, g.nbr, n_iter, damping)}

    return _per_entity(edges, entity, [("node", None), ("pagerank_nano", LongType())], algo)


def eigenvector_centrality(edges: DataFrame, entity: str, n_iter: int = 8) -> DataFrame:
    """Eigenvector centrality per entity graph (reference nx.eigenvector_
    centrality, feature.py:4605) as a FIXED-K power iteration: v ←
    ((A+I)·v) / max(·), K times, then L2-normalize. The +I (self-loop) term
    is networkx's own convergence device — it shifts the spectrum so
    bipartite-ish graphs (stars, chains) cannot oscillate, while leaving
    the eigenvectors unchanged. Fixed K (not convergence-tested) keeps the
    oracle expressible; K=8 is plenty for ε-graph spectral gaps.

    Each iterate is quantized as Spark's ``CAST(double AS DECIMAL(18,9))``
    rounds it, HALF_UP on the double's shortest decimal string
    (:func:`eigenvector_nanos`); DuckDB's cast rounds half-to-even, so the
    iterates are NOT bit-identical across engines: a replica of Spark's rule
    disagreed with the oracle's ``v8`` in 62 of 30,853 rows at sf0.1 and 2
    of 3,053 at sf0.01. Only the 6-decimal output, normalized in the JVM by
    the exact decimal sum of squares, matches the oracle."""
    v = _per_entity(
        edges, entity, [("n", None), ("v", LongType())],
        lambda g, _pdf: {"n": g.ids, "v": eigenvector_nanos(g.indptr, g.nbr, n_iter)},
    ).withColumn("v", (F.col("v").cast("decimal(18,0)") / 10**9).cast("decimal(18,9)"))
    # exact decimal(38,18) sum of squares over the entity's nodes
    ss = F.sum(F.col("v") * F.col("v")).over(Window.partitionBy(entity))
    return v.select(
        entity,
        F.col("n").alias("node"),
        F.round(F.col("v").cast("double") / F.sqrt(ss.cast("double")), 6).alias("centrality"),
    )


def dbscan_clusters(
    edges: DataFrame, nodes: DataFrame, entity: str, min_pts: int = 3
) -> DataFrame:
    """EXACT DBSCAN given the ε-neighbor pair list (reference iAnalysis
    DBSCAN row, feature.py:4838-4850 — sklearn's is exact too): a node is
    CORE iff its ε-neighborhood (itself included) has ≥ min_pts members;
    clusters are the connected components of the core-core subgraph,
    labelled by their smallest node; a non-core node adjacent to a core
    joins that core's cluster (smallest cluster id on ties, the
    deterministic choice sklearn leaves unspecified); everything else is
    NOISE (cluster NULL), isolated points included. ``edges`` is whatever
    ε-pair generator fits the space (the banded 1-D contact_edges here).
    :func:`dbscan_labels` runs per entity over a cogroup of nodes and edges.

    Returns (entity, node, is_core, cluster) for EVERY node in ``nodes``.
    """
    node_col = nodes.columns[1]

    def algo(g: Graph, _pdf, npdf: pd.DataFrame) -> dict:
        listed = np.isin(g.ids, npdf[node_col].to_numpy())
        core, cluster = dbscan_labels(g, listed, min_pts)
        cluster = cluster[listed]
        return {
            "node": g.ids[listed],
            "is_core": core[listed],
            "cluster": pd.arrays.IntegerArray(g.ids[np.maximum(cluster, 0)], cluster < 0),
        }

    nt = nodes.schema[node_col].dataType
    return _per_entity(
        edges, entity, [("node", nt), ("is_core", BooleanType()), ("cluster", nt)], algo,
        nodes=nodes.select(entity, node_col),
    )


def connected_components(edges: DataFrame, entity: str) -> DataFrame:
    """Connected components per entity graph (reference nx.connected_
    components / global diameter prerequisites, feature.py:4601-4609): the
    component id is the smallest node id in the component (deterministic),
    computed to the fixpoint. Integer-only, so bit-exact against the
    unbounded recursive-CTE oracle.

    The edge list is localCheckpointed ONCE at entry: callers like
    dedup_clusters feed an edge plan that is itself a multi-stage pipeline
    (MinHash signatures → band join → Jaccard verify), and the checkpoint
    keeps the components from re-planning that lineage. Its job observes
    the edge count of every entity graph together, a bound on the largest.
    Up to ``CC_EDGE_BUDGET`` edges the components are the per-entity kernel
    (:func:`_min_labels` through :func:`_per_entity`). Above it, min-label
    propagation keeps the graph distributed: each round takes the min label
    over a node's neighbors and itself, one join + one groupBy shuffle
    behind an eager localCheckpoint, until no label changes (rounds = graph
    diameter). Both paths return the same rows and types."""
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
    def algo(g: Graph, _pdf) -> dict:
        return {"node": g.ids, "component": g.ids[_min_labels(g.ea, g.eb, len(g.ids))]}

    return _per_entity(edges, entity, [("node", None), ("component", None)], algo)


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
