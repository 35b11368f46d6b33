"""Property-based invariants for the NumPy kernels (SURVEY.md §5.4) —
pure-python, no SparkSession, so hypothesis can explore aggressively."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_pit import kernels

ts_arrays = st.lists(
    st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200
).map(lambda xs: np.sort(np.array(xs, dtype=np.int64)))


@st.composite
def segments(draw, cell=st.none()):
    """2-4 segments of rows sorted by (segment, ts), as
    ``kernels.segment_features`` takes them, and a session gap. Steps of
    exactly ``gap`` must not break a session and ``gap + 1`` must; each
    segment starts anywhere, so a boundary can sit inside the gap or step
    back in time. ``cell`` draws one more value per row."""
    gap = draw(st.integers(min_value=1, max_value=10**6))
    step = st.one_of(st.sampled_from([0, gap, gap + 1]), st.integers(0, 3 * gap))
    seg, ts, cells = [], [], []
    for k in range(draw(st.integers(min_value=2, max_value=4))):
        rows = draw(st.lists(st.tuples(step, cell), min_size=1, max_size=50))
        t0 = draw(st.integers(min_value=0, max_value=10**9))
        seg += [k] * len(rows)
        ts += list(t0 + np.cumsum([r[0] for r in rows]))
        cells += [r[1] for r in rows]
    return np.array(seg, dtype=np.int64), np.array(ts, dtype=np.int64), cells, gap


def _features(seg, ts, gap, x=None, codes=None, n_tokens=1, width=1):
    """``kernels.segment_features`` with no snapshots; ``x`` and ``codes``
    default to zeros."""
    n = len(seg)
    x = np.zeros(n) if x is None else x
    codes = np.zeros(n, dtype=np.int64) if codes is None else codes
    none = np.zeros(0, dtype=np.int64)
    return kernels.segment_features(seg, ts, x, codes, n_tokens, width, gap, none, none, none)


@given(segments())
@settings(max_examples=200, deadline=None)
def test_segment_sessions_monotone_and_bounded(drawn):
    seg, ts, _, gap = drawn
    sids = _features(seg, ts, gap)["session_id"]
    for k in np.unique(seg):
        s, t = sids[seg == k], ts[seg == k]
        assert s[0] == 0  # every segment restarts its sessions
        d = np.diff(s)
        assert ((d == 0) | (d == 1)).all()
        # a break happens exactly when the inter-arrival exceeds the gap
        assert (d == (np.diff(t) > gap)).all()


@given(ts_arrays, ts_arrays, st.booleans())
@settings(max_examples=200, deadline=None)
def test_asof_indices_match_bruteforce(ev, sn, strict):
    idx = kernels.asof_indices(ev, sn, strict=strict)
    for e, i in zip(ev, idx):
        if strict:
            cand = np.flatnonzero(sn < e)
        else:
            cand = np.flatnonzero(sn <= e)
        expect = cand[-1] if len(cand) else -1
        assert i == expect
    # zero leakage: the matched snapshot never sits after the event
    matched = idx >= 0
    if matched.any():
        assert (sn[idx[matched]] <= ev[matched]).all()
        if strict:
            assert (sn[idx[matched]] < ev[matched]).all()


@given(segments(st.integers(min_value=-1, max_value=4)), st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_segment_composition_rows_sum_to_valid_share(drawn, width):
    seg, ts, codes, gap = drawn
    codes = np.array(codes, dtype=np.int64)
    wc = _features(seg, ts, gap, codes=codes, n_tokens=5, width=width)["wc"]
    # each row's composition sums to the valid-token share of its window
    valid = (codes >= 0).astype(np.int64)
    cs = np.concatenate([[0], np.cumsum(valid)])
    first = np.searchsorted(seg, seg)  # first row of each row's segment
    for i in range(len(codes)):
        s = max(first[i], i - width + 1)  # never reaches an earlier segment
        np.testing.assert_allclose(wc[i].sum(), (cs[i + 1] - cs[s]) / (i + 1 - s), atol=1e-12)


@given(segments(st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False))))
@settings(max_examples=200, deadline=None)
def test_segment_backfill_semantics(drawn):
    seg, ts, vals, gap = drawn
    x = np.array([np.nan if v is None else v for v in vals], dtype=np.float64)
    out = _features(seg, ts, gap, x=x)["bf"]
    last = np.nan
    for i, (v, o) in enumerate(zip(x, out)):
        if i > 0 and seg[i] != seg[i - 1]:
            last = np.nan  # a segment's leading nulls stay null
        if not np.isnan(v):
            last = v
        if np.isnan(last):
            assert np.isnan(o)
        else:
            assert o == last
