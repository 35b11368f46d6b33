"""Iterative graph operators through Spark: the per-entity kernels
(components, BFS paths, betweenness, PageRank, eigenvector, DBSCAN) and the
min-label propagation loop on graphs with known answers, their budget
errors and those of mean shift and MCL, and the graph and clustering
queries against their DuckDB oracles."""

from __future__ import annotations

import sys
from collections import deque
from pathlib import Path

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def _edges_df(spark, rows):
    return spark.createDataFrame(rows, "g long, a long, b long").selectExpr(
        "g", "a", "b"
    )


def test_connected_components_two_chains(spark):
    from spark_pit.operators.graph import connected_components

    # entity 1: chain 1-2-3-4 and isolated pair 10-11; entity 2: triangle
    rows = [(1, 1, 2), (1, 2, 3), (1, 3, 4), (1, 10, 11),
            (2, 5, 6), (2, 6, 7), (2, 5, 7)]
    out = connected_components(_edges_df(spark, rows), "g").toPandas()
    comp = {(r.g, r.node): r.component for r in out.itertuples()}
    assert comp[(1, 1)] == comp[(1, 2)] == comp[(1, 3)] == comp[(1, 4)] == 1
    assert comp[(1, 10)] == comp[(1, 11)] == 10
    assert comp[(2, 5)] == comp[(2, 6)] == comp[(2, 7)] == 5
    # an empty edge list converges at once to no components
    assert connected_components(_edges_df(spark, []), "g").count() == 0


def test_connected_components_warm_rerun_compiles_nothing(spark):
    """A second identical call reuses every generated class: the session's
    codegen cache holds the working set of the entry checkpoint and the
    grouped kernel's plan, so no whole-stage class is compiled."""
    from spark_pit.operators.graph import connected_components

    rows = [(1, 1, 2), (1, 2, 3), (1, 3, 4), (1, 10, 11),
            (2, 5, 6), (2, 6, 7), (2, 5, 7)]
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    first = sorted(connected_components(_edges_df(spark, rows), "g").collect())
    before = cm.METRIC_COMPILATION_TIME().getCount()
    second = sorted(connected_components(_edges_df(spark, rows), "g").collect())
    assert cm.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert second == first


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A chain of diameter 40 reaches the fixpoint on both paths: the
    oracle's recursive CTE is unbounded, so no round cap may truncate."""
    from spark_pit.operators import graph

    n = 40
    rows = [(1, i, i + 1) for i in range(n)]
    for budget in (graph.CC_EDGE_BUDGET, -1):
        monkeypatch.setattr(graph, "CC_EDGE_BUDGET", budget)
        out = graph.connected_components(_edges_df(spark, rows), "g").toPandas()
        assert set(out["component"]) == {0}
        assert len(out) == n + 1


def _bfs_components(rows):
    """Brute force: {(g, node): smallest node reachable from it}."""
    adj = {}
    for g, a, b in rows:
        adj.setdefault((g, a), set()).add(b)
        adj.setdefault((g, b), set()).add(a)
    comp = {}
    for (g, start) in adj:
        if (g, start) in comp:
            continue
        seen, todo = {start}, deque([start])
        while todo:
            for m in adj[(g, todo.popleft())]:
                if m not in seen:
                    seen.add(m)
                    todo.append(m)
        for v in seen:
            comp[(g, v)] = min(seen)
    return comp


@st.composite
def _multi_entity_graphs(draw):
    """Random edges in three entity graphs (self-loops, duplicate and
    reversed edges arise at random over 31 node ids), plus sometimes a
    chain of more than 25 edges, its node ids shuffled."""
    rows = draw(st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30), st.integers(0, 30)),
        max_size=40,
    ))
    n = draw(st.sampled_from([0, 27, 33]))
    if n:
        order = draw(st.permutations(range(100, 100 + n)))
        rows += [(3, order[i], order[i + 1]) for i in range(n - 1)]
    return rows


@given(_multi_entity_graphs())
@example([(1, 5, 5), (1, 6, 6), (1, 1, 2), (1, 2, 1), (1, 1, 2), (2, 7, 7)])
@example([(1, 30 - i, 29 - i) for i in range(30)])
@example([])
@settings(max_examples=200, deadline=None)
def test_min_label_components_matches_bfs(rows):
    from spark_pit.operators.graph import min_label_components

    want = _bfs_components(rows)
    for g in {g for g, _, _ in rows}:
        e = np.array([(a, b) for h, a, b in rows if h == g], dtype=np.int64)
        nodes, comp = min_label_components(e[:, 0], e[:, 1])
        assert dict(zip(nodes.tolist(), comp.tolist())) == {
            v: c for (h, v), c in want.items() if h == g
        }


def test_connected_components_matches_bfs_on_both_paths(spark):
    """The grouped kernel and the propagation loop (forced by a budget of
    -1 edges) return the brute-force components, with equal rows and
    column types, on random multi-entity graphs."""
    from spark_pit.operators import graph

    def both(rows):
        out = []
        for budget in (graph.CC_EDGE_BUDGET, -1):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(graph, "CC_EDGE_BUDGET", budget)
                df = graph.connected_components(_edges_df(spark, rows), "g")
                out.append(([f.dataType for f in df.schema.fields], sorted(df.collect())))
        return out

    @given(_multi_entity_graphs())
    @example([(1, 5, 5), (1, 6, 6), (1, 1, 2), (1, 2, 1), (1, 1, 2), (2, 7, 7)])
    @example([(1, 40 - i, 39 - i) for i in range(40)] + [(2, 3, 3)])
    @example([])
    @settings(max_examples=4, deadline=None, derandomize=True)
    def check(rows):
        (k_types, k_rows), (p_types, p_rows) = both(rows)
        assert k_types == p_types
        assert k_rows == p_rows
        want = _bfs_components(rows)
        assert {(r.g, r.node): r.component for r in k_rows} == want
        assert len(k_rows) == len(want)

    check()


def test_eigenvector_centrality_star(spark):
    from spark_pit.operators.graph import eigenvector_centrality

    # star: center 0 linked to 1..4 — center gets the max centrality and
    # all leaves are symmetric-equal; compare against numpy eig on A
    rows = [(1, 0, i) for i in range(1, 5)]
    out = eigenvector_centrality(_edges_df(spark, rows), "g", n_iter=8).toPandas()
    c = dict(zip(out["node"], out["centrality"]))
    assert c[0] > c[1]
    assert len({c[i] for i in range(1, 5)}) == 1
    a = np.zeros((5, 5))
    for _, i, j in rows:
        a[i, j] = a[j, i] = 1.0
    w, v = np.linalg.eigh(a)
    lead = np.abs(v[:, np.argmax(w)])
    lead = lead / np.linalg.norm(lead)
    got = np.array([c[i] for i in range(5)])
    assert np.allclose(got, lead, atol=1e-3)


def test_shortest_paths_and_stats(spark):
    from spark_pit.operators.graph import (
        closeness_centrality, path_stats, shortest_paths,
    )

    # entity 1: path graph 0-1-2-3 (known distances); entity 2: triangle + isolate pair
    rows = [(1, 0, 1), (1, 1, 2), (1, 2, 3), (2, 0, 1), (2, 1, 2), (2, 0, 2), (2, 8, 9)]
    sp = shortest_paths(_edges_df(spark, rows), "g").toPandas()
    d = {(r.g, r.src, r.node): r.dist for r in sp.itertuples()}
    assert d[(1, 0, 3)] == 3 and d[(1, 0, 2)] == 2 and d[(1, 1, 3)] == 2
    assert d[(2, 0, 2)] == 1 and d[(2, 8, 9)] == 1
    assert (2, 0, 8) not in d  # disconnected pair never materializes
    # an empty edge list has no sources: the first frontier is empty
    assert shortest_paths(_edges_df(spark, []), "g").count() == 0

    st = path_stats(shortest_paths(_edges_df(spark, rows), "g"), "g").toPandas()
    st = st.set_index("g")
    assert st.loc[1, "diameter"] == 3
    # path graph P4: ordered connected pairs 12, sum dist = 2*(1+2+3)+2*(1+2)+2*1 = 20
    assert st.loc[1, "avg_path_len"] == 20 / 12
    assert st.loc[2, "diameter"] == 1  # triangle and pair both diameter 1

    # closeness matches the networkx Wasserman-Faust formula on P4:
    # end node: r=4, sum=1+2+3=6 -> (3/6)*(3/3)=0.5 ; middle: sum=1+1+2=4 -> 0.75
    cl = closeness_centrality(shortest_paths(_edges_df(spark, rows), "g"), "g").toPandas()
    c = {(r.g, r.node): r.closeness for r in cl.itertuples()}
    assert c[(1, 0)] == 0.5 and c[(1, 1)] == 0.75
    # entity 2 disconnected: triangle node r=3, sum=2, n=5 -> (2/2)*(2/4)=0.5
    assert c[(2, 0)] == 0.5


def test_betweenness_path_and_star(spark):
    """Brandes sweeps vs hand-computed networkx-normalized values:
    P4 (0-1-2-3): middles raw 2 -> 2*2/(3*2) = 0.666667, ends 0.
    Star K1,4: center raw 6 -> 6*2/(4*3) = 1.0, leaves 0."""
    import pytest as _pt

    from spark_pit.operators.graph import betweenness_centrality

    rows = [(1, 0, 1), (1, 1, 2), (1, 2, 3)] + [(2, 0, i) for i in range(1, 5)]
    out = betweenness_centrality(_edges_df(spark, rows), "g").toPandas()
    b = {(r.g, r.node): r.betweenness for r in out.itertuples()}
    assert b[(1, 0)] == 0.0 and b[(1, 3)] == 0.0
    assert b[(1, 1)] == _pt.approx(2 * 2 / (3 * 2))
    assert b[(1, 2)] == _pt.approx(2 * 2 / (3 * 2))
    assert b[(2, 0)] == _pt.approx(1.0)
    assert all(b[(2, i)] == 0.0 for i in range(1, 5))


def test_betweenness_multiple_shortest_paths(spark):
    """4-cycle 0-1-2-3-0: (0,2) has TWO shortest paths (via 1 and via 3),
    so each of 1 and 3 gets 0.5 from that pair; raw 0.5 -> 0.5*2/(3*2)."""
    import pytest as _pt

    from spark_pit.operators.graph import betweenness_centrality

    rows = [(1, 0, 1), (1, 1, 2), (1, 2, 3), (1, 0, 3)]
    out = betweenness_centrality(_edges_df(spark, rows), "g").toPandas()
    b = dict(zip(out["node"], out["betweenness"]))
    for v in range(4):
        assert b[v] == _pt.approx(0.5 * 2 / (3 * 2)), v


def test_dbscan_core_border_noise(spark):
    """1-D chain: {0,1,2} with eps=1 makes node1 core (3-point hood) and
    0/2 borders; {5,6,7} is a second cluster; 10 is noise."""
    from spark_pit.operators.graph import contact_edges, dbscan_clusters

    vals = [0.0, 1.0, 2.0, 5.0, 6.0, 7.0, 10.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "g long, node long, v double"
    )
    edges = contact_edges(df, "g", "node", "v", cutoff=1.0)
    out = dbscan_clusters(edges, df.select("g", "node"), "g", min_pts=3).toPandas()
    m = out.set_index("node")
    assert bool(m.loc[1, "is_core"]) and not bool(m.loc[0, "is_core"])
    assert m.loc[0, "cluster"] == 1 and m.loc[1, "cluster"] == 1 and m.loc[2, "cluster"] == 1
    assert m.loc[3, "cluster"] == 4 and m.loc[4, "cluster"] == 4 and m.loc[5, "cluster"] == 4
    assert not bool(m.loc[6, "is_core"]) and pd_isna(m.loc[6, "cluster"])


def pd_isna(x):
    import pandas as pd

    return pd.isna(x)


def test_betweenness_random_graphs_match_networkx(spark):
    """Five seeded random graphs (one entity each, ONE Spark job) vs
    networkx.betweenness_centrality(normalized=True) — covers branching,
    multiple shortest paths, and disconnected remainders."""
    import networkx as nx

    rng = np.random.default_rng(123)
    from spark_pit.operators.graph import betweenness_centrality

    all_rows, want = [], {}
    for g in range(5):
        k = int(rng.integers(6, 11))
        cand = [(a, b) for a in range(k) for b in range(a + 1, k)]
        m = int(rng.integers(k - 1, len(cand)))
        idx = rng.choice(len(cand), size=m, replace=False)
        edges = [cand[i] for i in idx]
        all_rows += [(g, a, b) for a, b in edges]
        for v, x in nx.betweenness_centrality(nx.Graph(edges), normalized=True).items():
            want[(g, v)] = x
    out = betweenness_centrality(_edges_df(spark, all_rows), "g").toPandas()
    got = {(r.g, r.node): r.betweenness for r in out.itertuples()}
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-9), key


def test_eigenvector_centrality_is_per_entity(spark):
    from spark_pit.operators.graph import eigenvector_centrality

    rows = [(1, 0, 1), (1, 1, 2), (2, 0, 1)]  # different graphs share node ids
    out = eigenvector_centrality(_edges_df(spark, rows), "g", n_iter=8).toPandas()
    assert len(out) == 5
    g2 = out[out["g"] == 2]["centrality"].to_numpy()
    assert np.allclose(g2, [1 / np.sqrt(2)] * 2, atol=1e-6)


def test_betweenness_sampled_sources(spark):
    """Brandes–Pich sampled-source estimator: with s >= V the sample is the
    full source set and the V/s scale is 1, so values equal exact Brandes
    bit-for-bit; with s < V the seeded estimator still ranks the bridge
    endpoints of the barbell graph on top and stays within a loose
    absolute band of exact (deterministic seed → stable assertion)."""
    from spark_pit.operators.graph import betweenness_centrality

    # barbell: two 4-cliques joined by a 2-edge path through node 8
    clique = lambda off: [(a + off, b + off) for a in range(4) for b in range(a + 1, 4)]
    rows = [(1, a, b) for a, b in clique(0) + clique(4) + [(3, 8), (8, 7)]]
    df = _edges_df(spark, rows)
    exact = betweenness_centrality(df, "g").toPandas()
    full = betweenness_centrality(df, "g", sample_sources=100).toPandas()
    e = dict(zip(exact["node"], exact["betweenness"]))
    f = dict(zip(full["node"], full["betweenness"]))
    assert set(e) == set(f)
    for v in e:
        assert f[v] == pytest.approx(e[v], abs=1e-9)

    samp = betweenness_centrality(df, "g", sample_sources=5, seed=7).toPandas()
    s = dict(zip(samp["node"], samp["betweenness"]))
    # bridge path (3, 8, 7) dominates in both exact and sampled rankings
    top3 = sorted(s, key=s.get, reverse=True)[:3]
    assert set(top3) == {3, 7, 8}
    for v in e:
        assert abs(s[v] - e[v]) < 0.25, (v, s[v], e[v])


def test_pagerank_properties(spark):
    """PageRank on a known star + path fixture: per-entity ranks sum to
    ~1e9 nanos, the star center outranks every leaf, symmetric nodes tie
    exactly (integer iterates), and a brute-force numpy power iteration
    with the SAME nano-quantization reproduces the values bit-for-bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from spark_pit.operators.graph import pagerank

    # entity 1: star 1-2, 1-3, 1-4; entity 2: path 1-2-3
    edges = spark.createDataFrame(
        pd.DataFrame(
            {"g": [1, 1, 1, 2, 2], "a": [1, 1, 1, 1, 2], "b": [2, 3, 4, 2, 3]}
        )
    )
    out = pagerank(edges, "g", n_iter=6).toPandas()
    for g, grp in out.groupby("g"):
        total = grp["pagerank_nano"].sum()
        assert abs(total - 1_000_000_000) < 100, (g, total)  # floor drift only
    star = out[out["g"] == 1].set_index("node")["pagerank_nano"]
    assert star[1] > star[2] == star[3] == star[4]
    path = out[out["g"] == 2].set_index("node")["pagerank_nano"]
    assert path[2] > path[1] == path[3]
    # brute-force twin with identical quantization
    for g, nbrs in ((1, {1: [2, 3, 4], 2: [1], 3: [1], 4: [1]}),
                    (2, {1: [2], 2: [1, 3], 3: [2]})):
        nodes = sorted(nbrs)
        nn = len(nodes)
        q = {n: int(np.floor(1e9 / nn + 0.5)) for n in nodes}
        for _ in range(6):
            c = {n: int(np.floor(q[n] / len(nbrs[n]) + 0.5)) for n in nodes}
            s = {n: sum(c[m] for m in nbrs[n]) for n in nodes}
            q = {
                n: int(np.floor(0.15e9 / nn + 0.85 * s[n] + 0.5)) for n in nodes
            }
        got = out[out["g"] == g].set_index("node")["pagerank_nano"]
        for n in nodes:
            assert int(got[n]) == q[n], (g, n, int(got[n]), q[n])


def test_graph_kernels_over_budget_name_the_entity(spark, monkeypatch):
    """Above the cell budget the all-pairs operators and MCL's n² matrix
    raise, naming the entity and its node and edge counts, while sampled
    betweenness on the same graph still runs when its s sources' state
    fits; above the edge budget PageRank, eigenvector and DBSCAN raise the
    same way, and mean shift above it in points."""
    from pyspark.sql import functions as F

    from spark_pit.operators import analysis, graph

    # entity 7: a path of 6 nodes, 5 edges; entity 8: one edge
    rows = [(7, i, i + 1) for i in range(5)] + [(8, 0, 1)]
    df = _edges_df(spark, rows)
    nodes = spark.createDataFrame(
        [(7, i) for i in range(6)] + [(8, 0), (8, 1)], "g long, node long"
    )
    # the path's all-pairs state: 6 sources x (6 nodes + 10 CSR entries)
    monkeypatch.setattr(graph, "CELL_BUDGET", 6 * 16 - 1)
    for build in (
        lambda: graph.path_stats(graph.shortest_paths(df, "g"), "g"),
        lambda: graph.closeness_centrality(graph.shortest_paths(df, "g"), "g"),
        lambda: graph.betweenness_centrality(df, "g"),
    ):
        with pytest.raises(Exception, match=r"g=7: graph of 6 nodes and 5 edges"):
            build().collect()
    # MCL runs the whole graph as one entity: a 10-node path is 100 cells
    path = spark.createDataFrame([(i, i + 1, 1.0) for i in range(9)], "i long, j long, v double")
    with pytest.raises(Exception, match=r"__g=0: graph of 10 nodes and 9 edges \(100 state"):
        analysis.mcl_clusters(path).collect()
    sampled = graph.betweenness_centrality(df, "g", sample_sources=3).collect()
    assert sorted((r.g, r.node) for r in sampled) == sorted(
        [(7, i) for i in range(6)] + [(8, 0), (8, 1)]
    )

    monkeypatch.setattr(graph, "CC_EDGE_BUDGET", 4)
    for build in (
        lambda: graph.pagerank(df, "g"),
        lambda: graph.eigenvector_centrality(df, "g"),
        lambda: graph.dbscan_clusters(df, nodes, "g"),
    ):
        with pytest.raises(Exception, match=r"g=7: graph of 6 nodes and 5 edges"):
            build().collect()
    points = nodes.withColumn("x", F.col("node") * 0.5)
    with pytest.raises(Exception, match=r"g=7: 6 points .* budget of 4 points"):
        analysis.mean_shift_1d(points, "g", "node", "x", bandwidth=1.0).collect()


GRAPH_ORACLE_QUERIES = [
    "graph_path_stats", "closeness_centrality", "betweenness", "pagerank",
    "eigen_centrality", "dbscan", "connected_components", "contact_graph_stats",
    "mean_shift", "mcl_clusters",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb
    from check_oracle import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", GRAPH_ORACLE_QUERIES)
def test_graph_query_matches_oracle(spark, sf_dir, duck, name):
    """The graph and clustering queries hash-match their DuckDB oracle at
    sf0.001, with the gate's own dtype-strict comparison."""
    from check_oracle import compare

    from spark_pit.queries import ORACLES, QUERIES

    got = QUERIES[name](spark, sf_dir).toPandas()
    assert compare(name, got, duck.execute(ORACLES[name]).df()) == []
