"""Unit tests for the NumPy kernels against loop-level oracles.

The loop oracles restate the reference semantics (SURVEY.md §2 tables,
/root/reference/feature.py formulas) in the most literal form possible, so
the vectorized kernels are checked against spec, not against themselves.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_pit import kernels


@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 14)), min_size=1, max_size=40),
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 12), st.integers(0, 3)),
        min_size=0, max_size=30,
    ),
)
@settings(max_examples=150, deadline=None)
def test_segment_asof_matches_bruteforce(events, snaps):
    """Latest same-segment snapshot strictly before each event, the
    largest id winning a time tie; ids above 2^53 come back exact."""
    seg = np.array([e[0] for e in events], dtype=np.int64)
    ts = np.array([e[1] for e in events], dtype=np.int64)
    s_seg = np.array([s[0] for s in snaps], dtype=np.int64)
    s_ts = np.array([s[1] for s in snaps], dtype=np.int64)
    s_id = np.array([2**53 + s[2] for s in snaps], dtype=np.int64)
    hit = kernels.segment_asof(seg, ts, s_seg, s_ts, s_id)
    for i in range(len(events)):
        cands = [(s_ts[j], s_id[j]) for j in range(len(snaps))
                 if s_seg[j] == seg[i] and s_ts[j] < ts[i]]
        got = (s_ts[hit[i]], s_id[hit[i]]) if hit[i] >= 0 else None
        assert got == (max(cands) if cands else None)


@given(
    st.lists(
        st.tuples(st.integers(0, 3000), st.one_of(st.none(), st.floats(-5, 5)),
                  st.integers(-1, 2)),
        min_size=2, max_size=40,
    ),
    st.integers(1, 39),
    st.integers(1, 6),
)
@settings(max_examples=150, deadline=None)
def test_segment_features_carries_continue_a_timeline(rows, cut, width):
    """One timeline split into two segments, the second given margin rows
    and carries as the salted path supplies them, gives the features of
    the unsplit timeline."""
    rows = sorted(rows, key=lambda r: r[0])
    cut = min(cut, len(rows) - 1)
    ts = np.array([r[0] for r in rows], dtype=np.int64)
    x = np.array([np.nan if r[1] is None else r[1] for r in rows])
    codes = np.array([r[2] for r in rows], dtype=np.int64)
    s_ts = ts[::3] - 1
    s_id = np.arange(len(s_ts), dtype=np.int64)
    gap, n_tok = 100, 3

    def run(seg, sl, s_seg, **carry):
        return kernels.segment_features(
            seg, ts[sl], x[sl], codes[sl], n_tok, width, gap,
            s_seg, s_ts, s_id, **carry,
        )

    whole = run(np.zeros(len(ts), dtype=np.int64), slice(None), np.zeros(len(s_ts), dtype=np.int64))
    m = min(max(width - 1, 1), cut)  # carried tail rows
    head = run(np.zeros(cut, dtype=np.int64), slice(0, cut), np.zeros(len(s_ts), dtype=np.int64),
               next_first=np.array([x[cut]]))
    tail = run(
        np.ones(len(ts) - cut + m, dtype=np.int64), slice(cut - m, None),
        np.ones(len(s_ts), dtype=np.int64),
        last_sess=np.array([0, whole["session_id"][cut - 1]]),
        open_run=np.array([0, whole["session_pos"][cut - 1] + 1]),
        bf_seed=np.array([np.nan, whole["bf"][cut - 1]]),
        next_first=np.array([np.nan, np.nan]),
        margin=np.arange(len(ts) - cut + m) < m,
    )
    for k, v in whole.items():
        np.testing.assert_allclose(
            np.concatenate([head[k], tail[k]]), v, rtol=1e-9, atol=1e-9, err_msg=k
        )


@given(
    st.integers(-1500, 200),
    st.lists(
        st.tuples(st.sampled_from([0, 1, 37, 100, 101, 250, 700]),
                  st.one_of(st.none(), st.floats(-5, 5)), st.integers(-1, 2)),
        min_size=1, max_size=40,
    ),
    st.lists(st.tuples(st.integers(-1700, 4000), st.integers(0, 3)), min_size=1, max_size=12),
    st.integers(1, 6),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_chunk_carries_continue_a_timeline(t0, rows, snaps, width, data):
    """A timeline cut into time chunks, each given the margin rows and
    carries that ``chunk_summaries`` and ``chunk_carries`` derive from the
    chunks before it (as the salted path does), gives the features of the
    unsplit timeline. Steps of 0 tie timestamps (a drawn tiebreak orders
    them), steps of exactly ``gap`` do not break a session, long steps
    leave one-row chunks, and a negative start gives negative chunk ids."""
    gap, chunk_us, n_tok = 100, 250, 3
    tail_n = max(width - 1, 1)
    tb = np.array(data.draw(st.permutations(range(len(rows)))), dtype=np.int64)
    ts = t0 + np.cumsum([r[0] for r in rows]).astype(np.int64)
    order = np.lexsort((tb, ts))
    ts, tb = ts[order], tb[order]
    x = np.array([np.nan if r[1] is None else r[1] for r in rows])[order]
    codes = np.array([r[2] for r in rows], dtype=np.int64)[order]
    # the first snapshot's twin with id 2^53+1 wins their tie
    s_ts = np.array([s[0] for s in snaps] + [snaps[0][0]], dtype=np.int64)
    s_id = np.array([s[1] for s in snaps] + [2**53 + 1], dtype=np.int64)
    zeros = np.zeros(len(ts), dtype=np.int64)

    whole = kernels.segment_features(
        zeros, ts, x, codes, n_tok, width, gap, np.zeros(len(s_ts), dtype=np.int64), s_ts, s_id,
    )

    chunk = ts // chunk_us
    summ = kernels.chunk_summaries(chunk - chunk.min(), ts, x, gap, tail_n)
    # the scan gets the summaries in shuffle order and sorts them back
    mix = np.array(data.draw(st.permutations(range(len(summ["row"])))), dtype=np.int64)
    back = mix[np.lexsort((-summ["rank"][mix], chunk[summ["row"]][mix]))]
    summ = {k: v[back] for k, v in summ.items()}
    c = kernels.chunk_carries(
        np.zeros(len(summ["row"]), dtype=np.int64), chunk[summ["row"]], summ,
        gap, tail_n, chunk_us, np.zeros(len(s_ts), dtype=np.int64), s_ts, s_id,
    )
    # one segment per chunk: body rows, margin rows from the carried
    # tails, the chunk's own snapshots and its carried snapshot
    seg_of = {ch: i for i, ch in enumerate(chunk[summ["row"][c["first"]]])}
    b_seg = np.array([seg_of[ch] for ch in chunk])
    m_seg = c["tail_chunk"]
    own = np.isin(s_ts // chunk_us, list(seg_of))
    hit = c["snap"] >= 0
    sn_seg = np.concatenate([[seg_of[ch] for ch in s_ts[own] // chunk_us],
                             np.flatnonzero(hit)]).astype(np.int64)
    sn_ts = np.concatenate([s_ts[own], s_ts[c["snap"][hit]]])
    sn_id = np.concatenate([s_id[own], s_id[c["snap"][hit]]])

    src = summ["row"][c["tail_row"]]
    n_m = len(src)
    seg = np.concatenate([m_seg, b_seg])
    t = np.concatenate([ts[src], ts])
    keys = np.concatenate([np.zeros(n_m, dtype=np.int64), tb])
    pos = np.concatenate([c["tail_pos"], zeros])
    srt = np.lexsort((keys, pos, t, seg))
    margin = srt < n_m
    got = kernels.segment_features(
        seg[srt], t[srt], np.concatenate([x[src], x])[srt],
        np.concatenate([codes[src], codes])[srt], n_tok, width, gap,
        sn_seg, sn_ts, sn_id, margin=margin,
        last_sess=c["last_sess"], open_run=c["open_run"],
        bf_seed=c["bf_seed"], next_first=c["next_first"],
    )
    assert (srt[~margin] - n_m == np.arange(len(ts))).all()
    for k, v in whole.items():
        if k == "asof_snapshot_id":
            assert (got[k] == v).all()  # exact int64, no float rounding
        else:
            np.testing.assert_allclose(got[k], v, rtol=1e-9, atol=1e-9, err_msg=k)


def _features(seg, ts, x, codes, n_tokens, width, gap):
    """``kernels.segment_features`` with no snapshots."""
    none = np.zeros(0, dtype=np.int64)
    seg = np.asarray(seg, dtype=np.int64)
    return kernels.segment_features(
        seg, np.asarray(ts, dtype=np.int64), x, codes, n_tokens, width, gap, none, none, none
    )


def test_segment_sessions():
    # a step of exactly the gap stays in its session; every segment,
    # even one starting inside the gap, restarts at session 0
    seg = [0, 0, 0, 0, 0, 1, 1, 1, 2]
    ts = [0, 10, 2000, 2005, 9000, 9500, 10500, 10501, 5]
    f = _features(seg, ts, np.zeros(9), np.zeros(9, dtype=np.int64), 1, 1, gap=1000)
    assert f["session_id"].tolist() == [0, 0, 1, 1, 2, 0, 0, 0, 0]


def test_segment_backfill():
    seg = [0] * 6 + [1] * 3
    x = np.array([np.nan, 1.0, np.nan, np.nan, 2.0, np.nan, np.nan, 3.0, np.nan])
    f = _features(seg, np.arange(9), x, np.zeros(9, dtype=np.int64), 1, 1, gap=10)
    assert np.isnan(f["bf"][0]) and np.isnan(f["bf"][6])  # leading nulls per segment
    assert f["bf"][1:6].tolist() == [1.0, 1.0, 1.0, 2.0, 2.0]
    assert f["bf"][7:].tolist() == [3.0, 3.0]


def test_segment_composition_matches_loop():
    rng = np.random.default_rng(7)
    seg = np.repeat([0, 1, 2], [3, 20, 14])  # the first is shorter than the window
    codes = rng.integers(0, 4, size=len(seg))
    width = 5
    f = _features(seg, np.arange(len(seg)), np.zeros(len(seg)), codes, 4, width, gap=10)
    for i in range(len(codes)):
        lo = max(np.flatnonzero(seg == seg[i])[0], i - width + 1)
        window = codes[lo : i + 1]
        size = len(window)
        for t in range(4):
            assert f["wc"][i, t] == pytest.approx(np.sum(window == t) / size)


def test_target_encode_pit_no_leakage(spark):
    """Expanding target encoding: each row's mean covers strictly-earlier
    same-category rows only (pandas expanding().mean().shift() twin), the
    first occurrence is null, and the m-estimate prior path shrinks
    toward the prior."""
    import datetime as dt

    import pandas as pd

    from spark_pit.operators.windows import target_encode_pit

    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            "cat": ["a", "a", "b", "a", "b", "b", "a", "b"],
            "ts": [t0 + dt.timedelta(seconds=i) for i in range(8)],
            "value": [10.0, 20.0, 5.0, 30.0, 7.0, 9.0, 40.0, 11.0],
        }
    )
    out = (
        target_encode_pit(
            spark.createDataFrame(pdf), "cat", "ts", "value", tiebreak="event_id"
        )
        .toPandas().set_index("event_id").sort_index()
    )
    twin = (
        pdf.assign(
            exp=pdf.groupby("cat")["value"].transform(
                lambda s: s.expanding().mean().shift()
            )
        ).set_index("event_id")
    )
    for i in range(8):
        e, t = out.loc[i, "te_mean"], twin.loc[i, "exp"]
        if pd.isna(t):
            assert pd.isna(e), i
        else:
            assert e == round(t, 6), (i, e, t)
    assert out.loc[0, "te_count"] == 0 and pd.isna(out.loc[0, "te_mean"])
    # prior path: count=0 rows get the prior itself
    outp = (
        target_encode_pit(
            spark.createDataFrame(pdf), "cat", "ts", "value",
            tiebreak="event_id", prior=15.0, prior_weight=10,
        )
        .toPandas().set_index("event_id").sort_index()
    )
    assert outp.loc[0, "te_mean"] == 15.0
    # smoothed value sits between raw expanding mean and the prior
    assert 10.0 < outp.loc[1, "te_mean"] < 15.0
