"""The per-entity graph kernels' NumPy functions against networkx, the
reference's own library (feature.py:4601-4609): BFS distances, closeness
and path stats over them, and Brandes betweenness, exact and sampled. Only
the closeness test and the decimal-cast pin start Spark."""

from __future__ import annotations

from decimal import Decimal

import networkx as nx
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from spark_pit.operators.graph import bfs_levels, brandes_betweenness, decimal_nanos, to_graph


def _random_graph(rng, n_max=12):
    """A simple random graph (no duplicate edges, no self-loops) on up to
    ``n_max`` nodes; often disconnected."""
    k = int(rng.integers(2, n_max + 1))
    cand = [(a, b) for a in range(k) for b in range(a + 1, k)]
    m = int(rng.integers(1, len(cand) + 1))
    return [cand[i] for i in rng.choice(len(cand), size=m, replace=False)]


def _graphs():
    """Seeded random graphs plus a single edge and two disconnected parts."""
    rng = np.random.default_rng(20261019)
    return [_random_graph(rng) for _ in range(40)] + [
        [(0, 1)],
        [(0, 1), (1, 2), (5, 6), (6, 7), (7, 5)],
    ]


def _kernel_and_nx(edges):
    """The kernel's Graph (node ids spread out, so dense ids differ from
    them) and the networkx graph on the same dense ids."""
    e = np.array(edges, dtype=np.int64)
    g = to_graph(e[:, 0] * 7 + 100, e[:, 1] * 7 + 100)
    ref = nx.Graph()
    ref.add_edges_from(zip(g.ea.tolist(), g.eb.tolist()))
    return g, ref


def _check_bfs(edges):
    g, ref = _kernel_and_nx(edges)
    dist = bfs_levels(g.indptr, g.nbr, np.arange(len(g.ids)))[0]
    want = dict(nx.all_pairs_shortest_path_length(ref))
    for s in range(len(g.ids)):
        assert {v: int(d) for v, d in enumerate(dist[s]) if d >= 0} == want[s]


@pytest.mark.parametrize("edges", _graphs())
def test_bfs_matches_networkx(edges):
    _check_bfs(edges)


@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=30))
@example([(3, 3)])
@example([(0, 1), (1, 0), (0, 1), (2, 2)])
@settings(max_examples=200, deadline=None)
def test_bfs_matches_networkx_with_duplicates_and_self_loops(edges):
    _check_bfs(edges)


def test_bfs_stops_at_max_hops():
    g, _ = _kernel_and_nx([(i, i + 1) for i in range(9)])
    dist, _, levels = bfs_levels(g.indptr, g.nbr, np.array([0]), max_hops=4)
    assert dist[0].tolist() == [0, 1, 2, 3, 4] + [-1] * 5
    assert len(levels) == 5


def _check_betweenness(edges):
    g, ref = _kernel_and_nx(sorted({(min(a, b), max(a, b)) for a, b in edges if a != b}))
    got = brandes_betweenness(g.indptr, g.nbr)
    want = nx.betweenness_centrality(ref, normalized=True)
    np.testing.assert_allclose(got, [want[v] for v in range(len(g.ids))], rtol=0, atol=1e-12)


@pytest.mark.parametrize("edges", _graphs())
def test_exact_betweenness_matches_networkx(edges):
    _check_betweenness(edges)


@given(st.lists(st.tuples(st.integers(0, 10), st.integers(0, 10)), min_size=1, max_size=25)
       .filter(lambda e: any(a != b for a, b in e)))
@settings(max_examples=150, deadline=None)
def test_exact_betweenness_matches_networkx_hypothesis(edges):
    _check_betweenness(edges)


def _hub_graph():
    """Two hubs with ten leaves each, joined through one bridge node: the
    hubs and the bridge carry every crossing pair."""
    left = [(0, 10 + i) for i in range(10)]
    right = [(1, 20 + i) for i in range(10)]
    return _kernel_and_nx(left + right + [(0, 2), (2, 1)])


def test_sampled_betweenness_with_every_source_is_exact():
    g, ref = _hub_graph()
    exact = brandes_betweenness(g.indptr, g.nbr)
    want = nx.betweenness_centrality(ref, normalized=True)
    np.testing.assert_allclose(exact, [want[v] for v in range(len(g.ids))], atol=1e-12)
    shuffled = np.random.default_rng(3).permutation(len(g.ids))
    np.testing.assert_allclose(brandes_betweenness(g.indptr, g.nbr, shuffled), exact, atol=1e-9)


def test_sampled_betweenness_ranks_the_bridge_on_top():
    g, _ = _hub_graph()
    bridge = {int(np.searchsorted(g.ids, 7 * v + 100)) for v in (0, 1, 2)}
    rng = np.random.default_rng(11)
    for s in (4, 8, 12):
        src = rng.choice(len(g.ids), size=s, replace=False)
        got = brandes_betweenness(g.indptr, g.nbr, src)
        assert set(np.argsort(-got)[:3].tolist()) == bridge, (s, src)


def test_closeness_and_path_stats_match_networkx(spark):
    """closeness_centrality and path_stats over shortest_paths, every
    graph one entity in one Spark job, against networkx's
    closeness_centrality (Wasserman–Faust) and the connected-pair
    distances."""
    from spark_pit.operators.graph import closeness_centrality, path_stats, shortest_paths

    graphs = _graphs()
    rows = [(gi, a * 7 + 100, b * 7 + 100) for gi, e in enumerate(graphs) for a, b in e]
    sp = shortest_paths(spark.createDataFrame(rows, "g long, a long, b long"), "g").cache()
    close = {(r.g, r.node): r.closeness for r in closeness_centrality(sp, "g").collect()}
    stats = {r.g: (r.diameter, r.avg_path_len) for r in path_stats(sp, "g").collect()}
    sp.unpersist()
    for gi, edges in enumerate(graphs):
        g, ref = _kernel_and_nx(edges)
        for v, c in nx.closeness_centrality(ref).items():
            assert close[(gi, int(g.ids[v]))] == pytest.approx(c, abs=1e-12)
        d = [x for src, ds in nx.all_pairs_shortest_path_length(ref)
             for dst, x in ds.items() if src != dst]
        assert stats[gi] == (max(d), pytest.approx(sum(d) / len(d), abs=1e-12))


def test_decimal_nanos_matches_spark_cast(spark):
    """The eigen iterate quantizer against Spark's own
    CAST(double AS DECIMAL(18,9)): 200 doubles whose shortest decimal
    string ends in a 5 at the tenth place while their binary value lies
    just below it (Spark rounds the string HALF_UP, so any rounding of the
    binary value gives each one a nano too few), and 1,000 random ratios
    s/max of DECIMAL(28,9) sums, cast to double and divided in Spark as the
    eigenvector iteration does."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    cands = [f"0.{k:09d}5" for k in rng.integers(0, 10**9, 1000)]
    ties = [float(t) for t in cands if Decimal(float(t)) < Decimal(t)][:200]
    assert len(ties) == 200
    got = spark.createDataFrame([(x,) for x in ties], "x double").select(
        F.col("x").cast("decimal(18,9)").alias("q")
    ).collect()
    # the rows come back in input order from a local list
    want = decimal_nanos(np.array(ties))
    assert [int(r.q.scaleb(9)) for r in got] == want.tolist()

    mx = rng.integers(10**9, 5 * 10**10, 1000)
    s = (mx * rng.random(1000)).astype(np.int64)
    df = spark.createDataFrame(
        [(Decimal(int(a)).scaleb(-9), Decimal(int(b)).scaleb(-9)) for a, b in zip(s, mx)],
        "s decimal(28,9), mx decimal(28,9)",
    )
    got = df.select(
        (F.col("s").cast("double") / F.col("mx").cast("double")).cast("decimal(18,9)").alias("q")
    ).collect()
    want = decimal_nanos((s.astype(np.float64) / 1e9) / (mx.astype(np.float64) / 1e9))
    assert [int(r.q.scaleb(9)) for r in got] == want.tolist()
