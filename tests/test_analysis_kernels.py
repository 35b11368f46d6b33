"""The mean shift and MCL kernels' NumPy functions without Spark: mean
shift against its DuckDB oracle SQL on planted points (edges at exactly
±h, duplicates, negatives, a single point, one repeated value, NULLs), and
MCL on cliques, weights <= 0 and self-loops. One test runs the planted
points through Spark and the oracle gate's comparison."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from spark_pit.operators.analysis import mcl, mean_shift_labels, mean_shift_nanos
from spark_pit.operators.graph import to_graph
from spark_pit.queries import _mean_shift_sql

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

H, N_ITER = 2.0, 8


def _planted() -> pd.DataFrame:
    """(user_id, event_id, value) with every value a whole number of micros,
    so Spark's and DuckDB's DECIMAL(18,6) casts agree on it."""
    rows = [
        # windows ending exactly at ±h, in floats that round either way
        (1, 0, 0.0), (1, 1, 2.0), (1, 2, -2.0), (1, 3, 4.0), (1, 4, 0.1),
        (1, 5, 2.1), (1, 6, -1.9), (1, 7, 4.1), (1, 8, 6.3), (1, 9, 8.3),
        # duplicates and negatives
        (2, 0, 5.0), (2, 1, 5.0), (2, 2, 5.0), (2, 3, 7.0), (2, 4, -3.5),
        (2, 5, -3.5), (2, 6, -100.25), (2, 7, -98.25), (2, 8, -1.000001),
        (3, 0, 42.5),  # a single point
        (4, 0, -7.25), (4, 1, -7.25), (4, 2, -7.25),  # one repeated value
        (5, 0, None), (5, 1, 1.0), (5, 2, 2.5),  # a NULL coordinate
        (6, 0, 2.4), (6, 1, 4.4), (6, 2, -5.9), (6, 3, -3.9),  # 2 + 4e-16 apart
        (None, 0, 1.0),  # a NULL entity
    ]
    rng = np.random.default_rng(20261019)
    for e in range(7, 13):  # blobs on a 0.1 grid, where window edges land on ±h
        for i in range(int(rng.integers(5, 40))):
            centre = float(rng.choice([-30.0, 0.0, 3.0, 50.0]))
            rows.append((e, i, round(centre + int(rng.integers(-40, 41)) / 10, 6)))
    return pd.DataFrame(rows, columns=["user_id", "event_id", "value"]).astype(
        {"user_id": "Int64", "event_id": "int64", "value": "float64"}
    )


def _kernel(events: pd.DataFrame) -> pd.DataFrame:
    """mean_shift_nanos and mean_shift_labels per entity, NULLs dropped."""
    ok = events.dropna()
    out = []
    for e, grp in ok.groupby("user_id"):
        xm = np.round(grp["value"].to_numpy() * 1e6).astype(np.int64)
        idx, qn = mean_shift_nanos(xm, N_ITER, H)
        nodes = grp["event_id"].to_numpy()[idx]
        mode, cluster = mean_shift_labels(nodes, qn)
        out.append(pd.DataFrame({"user_id": e, "node": nodes, "mode": mode, "cluster": cluster}))
    return pd.concat(out, ignore_index=True)


def _oracle(events: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("events", events)
    try:
        return con.execute(_mean_shift_sql(N_ITER, H)).df()
    finally:
        con.close()


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(zip(df["user_id"].astype(int), df["node"].astype(int), df["mode"],
                      df["cluster"].astype(int)))


def test_mean_shift_nanos_matches_oracle_sql():
    events = _planted()
    got, want = _kernel(events), _oracle(events)
    assert _rows(got) == _rows(want)
    assert set(got["user_id"]) == set(range(1, 13))  # no NULL entity
    assert sorted(got[got["user_id"] == 5]["node"]) == [1, 2]  # no NULL coordinate


def test_mean_shift_nanos_edges_and_degenerate_entities():
    # x = 0, 2, -2: each end is exactly h from 0, so step one averages all
    # three for 0 and two for each end; 2.4 and 4.4 are 2.0000000000000004
    # apart in doubles, so neither sees the other
    idx, qn = mean_shift_nanos(np.array([0, 2_000_000, -2_000_000]), 1, 2.0)
    assert idx.tolist() == [0, 1, 2] and qn.tolist() == [0, 1_000_000_000, -1_000_000_000]
    idx, qn = mean_shift_nanos(np.array([2_400_000, 4_400_000]), 1, 2.0)
    assert qn.tolist() == [2_400_000_000, 4_400_000_000]
    # a single point and a repeated value stay where they are
    assert mean_shift_nanos(np.array([42_500_000]), 8, 2.0)[1].tolist() == [42_500_000_000]
    idx, qn = mean_shift_nanos(np.full(3, -7_250_000), 8, 2.0)
    assert qn.tolist() == [-7_250_000_000] * 3
    mode, cluster = mean_shift_labels(np.array([9, 4, 6]), qn)
    assert mode.tolist() == [-7.25] * 3 and cluster.tolist() == [4, 4, 4]
    # no points, no iterates
    idx, qn = mean_shift_nanos(np.array([], np.int64), 8, 2.0)
    assert len(idx) == len(qn) == 0


def test_mean_shift_planted_points_through_spark(spark, tmp_path):
    from check_oracle import compare

    from spark_pit.operators.analysis import mean_shift_1d

    events = _planted()
    path = str(tmp_path / "events.parquet")
    events.to_parquet(path)
    df = spark.read.parquet(path)
    got = mean_shift_1d(df, "user_id", "event_id", "value", bandwidth=H, n_iter=N_ITER)
    assert compare("mean_shift", got.toPandas(), _oracle(events)) == []


def _mcl(edges, **kw) -> dict:
    """{node: cluster} of :func:`mcl` over (i, j, v) rows, both directions."""
    e = np.array(edges, dtype=np.float64)
    a = np.concatenate([e[:, 0], e[:, 1]]).astype(np.int64)
    b = np.concatenate([e[:, 1], e[:, 0]]).astype(np.int64)
    g = to_graph(a, b)
    att = mcl(len(g.ids), g.ea, g.eb, np.concatenate([e[:, 2], e[:, 2]]), **kw)
    return {int(g.ids[k]): int(g.ids[c]) for k, c in enumerate(att) if c >= 0}


def test_mcl_disjoint_cliques():
    blobs = [range(0, 6), range(10, 15), range(20, 27)]
    got = _mcl([(a, b, 1.0) for blob in blobs for a in blob for b in blob if a < b])
    members = {}
    for node, c in got.items():
        members.setdefault(c, set()).add(node)
    assert sorted(members.values(), key=min) == [set(b) for b in blobs]
    assert all(c in members[c] for c in members)


def test_mcl_nonpositive_edges_keep_their_nodes():
    tri = [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)]
    want = _mcl(tri)
    got = _mcl(tri + [(3, 9, -1.0), (9, 4, 0.0)])
    assert got == {**want, 9: 9, 4: 4}  # no link, but both nodes are there


def test_mcl_self_loops_are_at_least_one():
    pair = [(1, 2, 1.0)]
    assert _mcl(pair) == {1: 1, 2: 1}
    # an explicit self-loop at or below 1 is the implicit one
    assert _mcl(pair + [(2, 2, 0.5)]) == _mcl(pair + [(2, 2, -3.0)]) == {1: 1, 2: 1}
    # one above 1 keeps the walk on node 2: it attracts both nodes
    assert _mcl(pair + [(2, 2, 100.0)]) == {1: 2, 2: 2}


def test_mcl_max_iter_zero_is_the_normalized_input():
    e = np.array([0, 1]), np.array([1, 0]), np.array([1.0, 1.0])
    assert mcl(2, *e, max_iter=0).tolist() == [0, 0]
