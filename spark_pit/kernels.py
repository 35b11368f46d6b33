"""Vectorized NumPy kernels used inside applyInPandas passes.

Each kernel is the leakage-free re-expression of one reference descriptor
shape (SURVEY.md §2) on a single entity's time-ordered arrays. All kernels
are pure NumPy — no per-row Python (input_hint mandate). They assume the
caller has already sorted by (ts, tiebreak) ascending.

Reference parity notes cite /root/reference/feature.py line ranges; we keep
the formulas, flipped from the reference's forward windows to backward
(leakage-free) windows per the re-targeting contract in SURVEY.md §0.
"""

from __future__ import annotations

import numpy as np


def segment_asof(
    seg: np.ndarray, ts: np.ndarray,
    snap_seg: np.ndarray, snap_ts: np.ndarray, snap_id: np.ndarray,
) -> np.ndarray:
    """For each event, the index into the snapshot arrays of the latest
    snapshot of the same segment with snap_ts < ts (the largest snap_id
    wins a timestamp tie); -1 when none. Inputs need no particular order.

    Snapshot times are replaced by their rank among the distinct snapshot
    times, so (segment, time) packs into one int64 key without overflow
    and the match is one ``searchsorted`` over the sorted snapshot keys.
    An event's key ranks its time by the count of distinct snapshot times
    strictly below it, which is what makes the match strict."""
    if len(snap_ts) == 0:
        return np.full(len(ts), -1, dtype=np.int64)
    times = np.unique(snap_ts)
    span = len(times) + 1
    s_key = snap_seg * span + np.searchsorted(times, snap_ts)
    order = np.lexsort((snap_id, s_key))
    pos = np.searchsorted(s_key[order], seg * span + np.searchsorted(times, ts)) - 1
    hit = order[pos.clip(0)]
    return np.where((pos >= 0) & (snap_seg[hit] == seg), hit, -1)


def segment_features(
    seg: np.ndarray,
    ts: np.ndarray,
    x: np.ndarray,
    codes: np.ndarray,
    n_tokens: int,
    width: int,
    gap_us: int,
    snap_seg: np.ndarray,
    snap_ts: np.ndarray,
    snap_id: np.ndarray,
    last_sess: np.ndarray | None = None,
    open_run: np.ndarray | None = None,
    bf_seed: np.ndarray | None = None,
    next_first: np.ndarray | None = None,
    margin: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """The fused point-in-time feature block over many segments at once:
    as-of match, lag-1/lead-1, gap sessions, backfill, trailing rolling
    mean and trailing token composition. The composition is the EAAC
    analogue (reference feature.py:456-485): each row's token counts over
    its trailing ``width`` rows, divided by the window's true length, so a
    segment's first rows divide by fewer than ``width``.

    Rows arrive sorted by (segment, ts, tiebreak). ``seg`` holds integer
    segment codes, ``ts`` event microseconds, ``x`` the numeric channel
    (NaN = null) and ``codes`` token codes (-1 = out of vocab). Every
    window feature is a cumulative-array expression clipped at the row's
    segment start, so no Python runs per segment.

    A segment may be one slice of a longer timeline (a time chunk of one
    entity). Then the caller supplies what precedes it:

    - ``margin`` marks carried tail rows of earlier slices. They sort
      first in their segment and only feed the trailing windows; no
      feature is returned for them.
    - Per-segment carries, indexed by segment code: ``last_sess`` (the
      session id of the last earlier row, default -1), ``open_run``
      (earlier rows of that session, default 0), ``bf_seed`` (last
      earlier non-null value) and ``next_first`` (the next slice's first
      value, for lead-1); both default to NaN.

    With no carries and no margin rows every segment is a whole timeline.
    Snapshots are (segment, µs, id) rows in any order; ids stay int64, so
    ids above 2^53 come back exact. Needs at least one row.

    Returns arrays for the non-margin rows in input order; ``wc`` is the
    (rows, n_tokens) composition and ``asof_matched`` masks
    ``asof_snapshot_id``.
    """
    n = len(seg)
    idx = np.arange(n)
    n_seg = int(seg.max()) + 1

    def carry(a, fill):
        return np.full(n_seg, fill) if a is None else a

    last_sess, open_run = carry(last_sess, -1), carry(open_run, 0)
    bf_seed, next_first = carry(bf_seed, np.nan), carry(next_first, np.nan)
    if margin is None:
        margin = np.zeros(n, dtype=bool)

    new_seg = np.ones(n, dtype=bool)
    new_seg[1:] = seg[1:] != seg[:-1]
    starts = np.flatnonzero(new_seg)
    ends = np.append(starts[1:] - 1, n - 1)
    ordn = np.cumsum(new_seg) - 1  # row -> ordinal of its segment
    seg_first = starts[ordn]

    # sessions: a gap or a segment change breaks. A segment with margin
    # rows continues the session of its last margin row (the anchor).
    brk = new_seg.copy()
    brk[1:] |= np.diff(ts) > gap_us
    cum = np.cumsum(brk)
    n_margin = np.add.reduceat(margin.astype(np.int64), starts)
    anchor = (starts + np.maximum(n_margin - 1, 0))[ordn]
    base = last_sess[seg[starts]] + (n_margin == 0)
    session_id = cum - cum[anchor] + base[ordn]
    sess_start = np.where(brk, idx, 0)
    np.maximum.accumulate(sess_start, out=sess_start)
    pos = idx - sess_start
    cont = (cum == cum[anchor]) & (n_margin[ordn] > 0)
    pos = np.where(cont, pos + open_run[seg] - (pos[anchor] + 1), pos)

    lag1 = np.roll(x, 1)
    lag1[new_seg] = np.nan
    lead1 = np.roll(x, -1)
    lead1[ends] = next_first[seg[ends]]

    ffidx = np.where(~np.isnan(x), idx, -1)
    np.maximum.accumulate(ffidx, out=ffidx)
    bf = np.where(ffidx >= seg_first, x[ffidx.clip(0)], np.nan)
    bf = np.where(np.isnan(bf), bf_seed[seg], bf)

    body = np.flatnonzero(~margin)
    w_s = np.maximum(body - width + 1, seg_first[body])
    cs = np.concatenate([[0.0], np.nancumsum(np.nan_to_num(x))])
    ccnt = np.concatenate([[0], np.cumsum(~np.isnan(x))])
    rsum = cs[body + 1] - cs[w_s]
    rcnt = (ccnt[body + 1] - ccnt[w_s]).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        roll_mean = np.where(rcnt > 0, rsum / rcnt, np.nan)

    onehot = np.zeros((n, n_tokens), dtype=np.int64)
    valid = codes >= 0
    onehot[idx[valid], codes[valid]] = 1
    ocs = np.concatenate([np.zeros((1, n_tokens)), np.cumsum(onehot, axis=0)])
    wc = (ocs[body + 1] - ocs[w_s]) / (body + 1 - w_s)[:, None]

    t_body = ts[body]
    hit = segment_asof(seg[body], t_body, snap_seg, snap_ts, snap_id)
    matched = hit >= 0
    sid = np.zeros(len(body), dtype=np.int64)
    sid[matched] = snap_id[hit[matched]]
    age = np.full(len(body), np.nan)
    age[matched] = (t_body[matched] - snap_ts[hit[matched]]) / 1e6
    return {
        "asof_snapshot_id": sid,
        "asof_matched": matched,
        "asof_age_sec": age,
        "lag1": lag1[body],
        "lead1": lead1[body],
        "session_id": session_id[body],
        "session_pos": pos[body],
        "bf": bf[body],
        "roll_mean": roll_mean,
        "wc": wc,
    }


def chunk_summaries(
    seg: np.ndarray, ts: np.ndarray, x: np.ndarray, gap_us: int, tail_n: int
) -> dict[str, np.ndarray]:
    """What each slice of a chunked timeline hands on to later slices.

    Rows arrive sorted by (segment, ts, tiebreak), as for
    ``segment_features``; each segment is one time chunk of one entity.
    Returns the segment's tail (its last ``tail_n`` rows) in input order:
    ``row`` (input index), ``rank`` (rows after it in its segment),
    ``ts``, ``x``, and on every tail row its segment's summary: ``n``
    (rows), ``first_ts``, ``first_x``, ``last_nn`` (last non-null value,
    NaN if none), ``breaks`` (session breaks inside the segment) and
    ``trail`` (rows of its last session). Needs at least one row."""
    n = len(seg)
    idx = np.arange(n)
    new_seg = np.ones(n, dtype=bool)
    new_seg[1:] = seg[1:] != seg[:-1]
    starts = np.flatnonzero(new_seg)
    ordn = np.cumsum(new_seg) - 1
    end = np.append(starts[1:], n)[ordn]  # one past each row's segment

    brk = np.zeros(n, dtype=bool)
    brk[1:] = ~new_seg[1:] & (np.diff(ts) > gap_us)
    cum_brk = np.cumsum(brk)
    run = np.where(brk | new_seg, idx, 0)
    np.maximum.accumulate(run, out=run)
    ff = np.where(np.isnan(x), -1, idx)
    np.maximum.accumulate(ff, out=ff)

    rows = np.flatnonzero(end - idx <= tail_n)
    first, last = starts[ordn[rows]], end[rows] - 1
    nn = ff[last]
    return {
        "row": rows,
        "rank": last - rows,
        "ts": ts[rows],
        "x": x[rows],
        "n": last + 1 - first,
        "first_ts": ts[first],
        "first_x": x[first],
        "last_nn": np.where(nn >= first, x[nn.clip(0)], np.nan),
        "breaks": cum_brk[last] - cum_brk[first],
        "trail": last + 1 - run[last],
    }


def chunk_carries(
    ent: np.ndarray,
    chunk: np.ndarray,
    tail: dict[str, np.ndarray],
    gap_us: int,
    tail_n: int,
    chunk_us: int,
    snap_ent: np.ndarray,
    snap_ts: np.ndarray,
    snap_id: np.ndarray,
) -> dict[str, np.ndarray]:
    """The carries ``segment_features`` needs for each time chunk, from
    the ``chunk_summaries`` tails of every earlier chunk of its entity.

    ``tail`` holds those tails sorted by (entity, chunk, row order), with
    ``ent`` and ``chunk`` their entity codes and chunk ids. Returns, per
    chunk in that order: ``first`` (its first tail row), ``last_sess``,
    ``open_run``, ``bf_seed`` and ``next_first`` as ``segment_features``
    takes them, and ``snap``, the index of the entity's latest snapshot
    before the chunk starts at ``chunk * chunk_us`` (-1 when none). The
    carried tail of each chunk, its entity's last ``tail_n`` earlier rows,
    comes back flat: ``tail_row`` (index into ``tail``), ``tail_chunk``
    (chunk ordinal) and ``tail_pos`` (order within the carried tail)."""
    m = len(ent)
    new_chunk = np.ones(m, dtype=bool)
    new_chunk[1:] = (ent[1:] != ent[:-1]) | (chunk[1:] != chunk[:-1])
    first = np.flatnonzero(new_chunk)
    last = np.append(first[1:], m) - 1  # the chunk's last row
    k = np.arange(len(first))
    c_ent = ent[first]
    new_ent = np.ones(len(first), dtype=bool)
    new_ent[1:] = c_ent[1:] != c_ent[:-1]
    e0 = np.where(new_ent, k, 0)  # the entity's first chunk
    np.maximum.accumulate(e0, out=e0)
    n, first_x, last_nn, trail = (tail[c][first] for c in ("n", "first_x", "last_nn", "trail"))

    # sessions each chunk opens: its inner breaks plus one if it starts
    # the entity or follows the previous chunk's last row by > gap
    gap = np.ones(len(first), dtype=bool)
    gap[1:] = tail["first_ts"][first[1:]] - tail["ts"][last[:-1]] > gap_us
    opened = tail["breaks"][first] + (new_ent | gap)
    before = np.cumsum(opened) - opened
    last_sess = before - before[e0] - 1

    # rows of the session still open after each chunk: the trail of the
    # last chunk that opened one, plus every row since
    cum_n = np.cumsum(n)
    reset = np.where(opened > 0, k, 0)
    np.maximum.accumulate(reset, out=reset)
    run_end = trail[reset] + cum_n - cum_n[reset]
    open_run = np.where(new_ent, 0, np.roll(run_end, 1))

    ff = np.where(np.isnan(last_nn), -1, k)
    np.maximum.accumulate(ff, out=ff)
    prev = np.roll(ff, 1)
    bf_seed = np.where(~new_ent & (prev >= e0), last_nn[prev.clip(0)], np.nan)
    next_first = np.append(np.where(new_ent[1:], np.nan, first_x[1:]), np.nan)

    lo = np.maximum(first - tail_n, first[e0])
    cnt = first - lo
    dst = np.repeat(k, cnt)
    pos = np.arange(len(dst)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return {
        "first": first,
        "last_sess": last_sess,
        "open_run": open_run,
        "bf_seed": bf_seed,
        "next_first": next_first,
        "snap": segment_asof(c_ent, chunk[first] * chunk_us, snap_ent, snap_ts, snap_id),
        "tail_row": lo[dst] + pos,
        "tail_chunk": dst,
        "tail_pos": pos,
    }


def cross_cov(x1: np.ndarray, x2: np.ndarray, nlags: int) -> np.ndarray:
    """CC analogue (feature.py:1670-1721): cross-covariance of two channels
    at lags 1..nlags: sum((x1_j-m1)(x2_{j+n}-m2)) / (L-n)."""
    L = len(x1)
    m1, m2 = (x1.mean(), x2.mean()) if L else (np.nan, np.nan)
    out = np.full(nlags, np.nan)
    for n in range(1, nlags + 1):
        if L <= n:
            continue
        out[n - 1] = float(((x1[:-n] - m1) * (x2[n:] - m2)).sum()) / (L - n)
    return out


def distribution_positions(codes: np.ndarray, n_tokens: int) -> np.ndarray:
    """CTDD analogue (feature.py:1978-2050): for each token t, the 1-based
    position (as % of L) where the running count of t first reaches
    ceil(q * total_t) for q in (eps, .25, .5, .75, 1.0) — eps meaning the
    first occurrence. Returns (n_tokens, 5), 0.0 where the token is absent
    (reference emits 0, feature.py:1969-1970)."""
    L = len(codes)
    out = np.zeros((n_tokens, 5), dtype=np.float64)
    qs = (0.0, 0.25, 0.5, 0.75, 1.0)
    for t in range(n_tokens):
        pos = np.flatnonzero(codes == t)
        total = len(pos)
        if total == 0:
            continue
        for qi, q in enumerate(qs):
            k = 1 if q == 0.0 else int(np.ceil(q * total))
            out[t, qi] = (pos[k - 1] + 1) * 100.0 / L
    return out
