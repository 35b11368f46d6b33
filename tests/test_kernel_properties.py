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


@given(ts_arrays, st.integers(min_value=1, max_value=10**6))
@settings(max_examples=200, deadline=None)
def test_session_ids_monotone_and_bounded(ts, gap):
    sids = kernels.session_ids(ts, gap)
    assert sids[0] == 0
    d = np.diff(sids)
    assert ((d == 0) | (d == 1)).all()
    # a break happens exactly when the inter-arrival exceeds the gap
    brk = np.diff(ts) > gap
    assert (d == brk.astype(np.int64)).all()


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


@given(
    st.lists(st.integers(min_value=-1, max_value=4), min_size=1, max_size=200),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_rolling_token_counts_rows_sum_to_one(codes, width):
    codes = np.array(codes, dtype=np.int64)
    out = kernels.rolling_token_counts(codes, 5, width)
    # rows where the whole window is valid tokens sum to exactly 1
    n = len(codes)
    valid = (codes >= 0).astype(np.int64)
    cs = np.concatenate([[0], np.cumsum(valid)])
    for i in range(n):
        s = max(0, i - width + 1)
        n_valid = cs[i + 1] - cs[s]
        size = i + 1 - s
        np.testing.assert_allclose(out[i].sum(), n_valid / size, atol=1e-12)


@given(
    st.lists(
        st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=1, max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_forward_fill_semantics(vals):
    x = np.array([np.nan if v is None else v for v in vals], dtype=np.float64)
    out = kernels.forward_fill(x)
    last = np.nan
    for v, o in zip(x, out):
        if not np.isnan(v):
            last = v
        if np.isnan(last):
            assert np.isnan(o)
        else:
            assert o == last
