"""Salted skew handling for the fused PIT pipeline (north_rule clause:
"Skew on hot image_ids is broken via salted repartitioning with AQE
skew-join hints").

The reference is single-threaded so skew cannot exist there (SURVEY.md §4
"skew handling: n/a"); at 10^12-row scale a hot entity whose timeline
exceeds one task's memory/time budget is the dominant failure mode of any
plan that gives one task a whole entity. This module splits hot entities
into **time chunks** (the salt = ``floor(ts / chunk_seconds)``) so one
entity's timeline fans out over many tasks, while keeping the output
*bit-identical* to the unsalted path:

1. **Chunk summaries** — per (entity, chunk): its trailing ``width-1``
   rows, each carrying the chunk's row count, first ts and value, last
   non-null value, internal session-break count and trailing-run length.
   One pandas pass grouped by the kernel's salted bucket
   ``pmod(xxhash64(entity, chunk), B)`` runs ``kernels.chunk_summaries``
   — hash-partitioned, so no skew, and one pandas call per bucket, not
   per chunk (the original version paid one per (entity, chunk); at the
   10M-row tier that is ~9M near-singleton Arrow batches — hours of
   dispatch overhead, found by the round-6 full-registry gate).
2. **Carry scan** — the exact pre-chunk state each chunk needs:
   session-id offset, open-run length, accumulated margin tail (exact
   across sparse chunks — the tail is re-accumulated, not just "previous
   chunk's rows"), backfill seed, latest strictly-before snapshot, and
   the next populated chunk's first value (for lead-1). One pandas pass
   cogrouping the summaries with the snapshots by
   ``pmod(xxhash64(entity), B)`` runs ``kernels.chunk_carries``: prefix
   sums and running maxima over each entity's chunks, and
   ``kernels.segment_asof`` at each chunk's start for the snapshot. Its
   output, flat rows with the tails included, is the kernel's whole right
   side; every snapshot passes through it.
3. **Salted kernel** — ONE bucketed cogroup on
   ``pmod(xxhash64(entity, chunk), B)``: carries, carried tails and chunk
   snapshots ride the right side (no broadcast of the carry table — in
   all-salted equivalence mode it is O(populated chunks), far past
   broadcast size), tails become margin rows, and
   ``kernels.segment_features`` — the kernel pit_features_bucketed calls,
   here given the carries — computes every feature over (entity, chunk)
   segments. Cold entities share the cogroup as one constant chunk each,
   a whole-timeline segment with no carries. Per-batch Python cost is
   paid about B times per pass, independent of how many (entity, chunk)
   groups exist.

Equivalence proof sketch per feature (tests assert it empirically):
- lag1 / rolling(width) / window-composition(width): any trailing
  row-window of width w at a body row is fully contained in tail+body
  because the tail always holds the last min(w-1, #prev) rows.
- session id/pos: sessions are contiguous, so any session reaching a body
  row includes the last tail row; the scan carries the id of that session
  and how many of its rows precede the chunk.
- backfill: last-non-null is a running scalar, carried.
- as-of: the latest strictly-before snapshot at any body event is either in
  this chunk's snapshot slice or is the carried pre-chunk snapshot.
- lead1: only the last body row needs the next chunk's first value,
  carried by the reverse pass.

Hot-key detection (``hot_threshold``) is hot_entities_countmin: a
count-min sketch probed on a hash sample of the rows while that sample
keeps one row in ``threshold // oversample`` > 1, and otherwise, when
the sample would keep every row, hot_entities' exact grouped count.
Either way detection only routes keys; the output does not depend on it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit import kernels
from spark_pit.operators.pit import PitLayout, pit_features_bucketed, to_us
from spark_pit.util import ts_us

CHUNK = "__chunk"


def hot_entities(
    events: DataFrame, entity: str, threshold: int
) -> list:
    """Entity keys whose event count exceeds ``threshold`` — EXACT
    detection via a full per-key groupBy (driver-side list; hot keys are
    few by definition). hot_entities_countmin returns this count when its
    sample would keep every row (``threshold // oversample <= 1``). At
    10^9+ distinct keys the groupBy's hash state is the bottleneck; there
    hot_entities_countmin, at a threshold of at least twice its
    ``oversample``, is constant-memory and never misses a hot key w.h.p."""
    rows = (
        events.groupBy(entity)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > threshold)
        .select(entity)
        .collect()
    )
    return [r[0] for r in rows]


def hot_entities_countmin(
    events: DataFrame,
    entity: str,
    threshold: int,
    d: int = 4,
    w: int = 8192,
    oversample: int = 50,
    bias_factor: int = 8,
) -> list:
    """Constant-memory hot-key detection: count-min estimates probed on a
    SAMPLE-derived candidate set — no exact full-key-space groupBy and no
    full-key distinct anywhere in the plan, whenever the sample keeps
    fewer than every row (otherwise see "Exact branch" below).

    Two bounded passes over the events:
    1. candidates — a per-physical-row hash sample at rate
       ``oversample / threshold``: a truly hot key (count > threshold)
       lands in the sample ~``oversample`` times in expectation, so the
       miss probability is e^-oversample ≈ 2e-22 at the default; the
       distinct() then runs over the SAMPLE (|events|/rate rows), not the
       key space.
    2. sketch — countmin_estimates builds the d x w CMS (constant-size
       partial agg) and probes only the candidates (broadcast join).

    Width discipline (round-5 fix, found at 51.2M rows): the CMS
    overestimate bias is ~N/w per bucket, so a FIXED width turns the
    detector into a constant function of N — at N=51.2M, w=8192 the bias
    is ~6,250, which put every one of 767k entities past a threshold of
    500 (the resulting 767k-key ``isin`` routing plan was a 10-minute
    hang, vs 45 s for the kernel itself). ``w`` is therefore a FLOOR:
    the effective width is max(w, bias_factor·N/threshold), sizing the
    bias to ≤ threshold/bias_factor. N comes from ``events.count()`` —
    a footer-only scan on parquet sources, which still runs as Spark
    jobs. Sketch rows stay bounded:
    d·bias_factor·N/T counters ≪ distinct keys whenever keys ≫ N/T, the
    regime this detector exists for (at N=10¹³, T=10⁷: w=8·10⁶ vs 10⁹
    keys).

    CMS never underestimates, so every surviving hot key crosses the
    threshold; overestimates only route extra keys to the salted path,
    which is semantics-preserving by construction (asserted by
    tests/test_skew.py equivalence tests). Returns the hot-key list.

    Exact branch: when ``threshold // oversample <= 1`` the sample rate
    clamps to 1, the sample keeps every row and the candidate distinct
    would already aggregate the whole key space, so the sketch saves no
    memory and only adds passes. Then the result is hot_entities' exact
    grouped count with the same ``> threshold`` rule: no ``count()``, no
    sketch, no probe join. The sketch is the detector only when the
    sample rate is below 1, the regime where thresholds are >> 50."""
    rate_denom = max(1, threshold // oversample)
    if rate_denom == 1:
        return hot_entities(events, entity, threshold)
    n = events.count()
    w_eff = max(w, (bias_factor * n) // max(threshold, 1) + 1)
    # Per-row sampling: hash every column PLUS a per-row distinguisher.
    # Hashing the values alone makes byte-identical rows sample
    # all-or-none — a hot key made of replayed duplicate events (the
    # telemetry-dup scenario horizon_dedup exists for) would then miss
    # with probability ~(1 - 1/rate_denom) instead of e^-oversample.
    # monotonically_increasing_id() breaks the tie per physical row; it is
    # stable for a fixed source layout (same parquet → same ids), and
    # detection only ROUTES keys, so layout changes never alter output
    # semantics — only which keys take the salted path.
    row_hash = F.abs(
        F.xxhash64(
            *[F.col(c) for c in events.columns],
            F.monotonically_increasing_id(),
        )
    )
    cand = (
        events.where(row_hash % rate_denom == 0)
        .select(entity)
        .distinct()
    )
    est = countmin_estimates(
        events.select(entity), entity, d=d, w=w_eff, keys=cand
    )
    rows = est.where(F.col("cm_est") > threshold).select(entity).collect()
    return [r[0] for r in rows]


def pit_features_salted(
    events: DataFrame,
    snapshots: DataFrame,
    entity: str,
    ts: str,
    numeric_col: str,
    token_col: str,
    vocab: list[str],
    snap_ts: str = "snapshot_ts",
    snap_id: str = "snapshot_id",
    gap_seconds: int = 1800,
    width: int = 5,
    chunk_seconds: int = 86400,
    hot_ids: list | None = None,
    hot_threshold: int | None = None,
    tiebreak: str | list[str] | None = None,
    num_buckets: int = 256,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """pit_features_bucketed's features with hot entities salted by time chunk.

    ``hot_ids`` (explicit) or ``hot_threshold`` (count-based detection)
    select the salted population; every other entity is one whole-timeline
    segment of the same kernel cogroup, and with no hot entity at all the
    plan is pit_features_bucketed's. With ``hot_ids=None,
    hot_threshold=None`` every entity is salted (used by the equivalence
    tests). ``tiebreak`` and ``passthrough`` mean what they mean for
    pit_features_bucketed.

    ``hot_threshold`` detection is hot_entities_countmin. Its candidate
    sample keeps one row in ``hot_threshold // 50`` (50 is its
    ``oversample``). While that rate is below 1, the detector is the
    constant-memory CMS over the sampled candidates, the shape that
    survives 10^9 distinct keys. Below a threshold of 100 the sample
    would keep every row, and one exact grouped count (hot_entities)
    detects instead.
    Detection only ROUTES keys: a missed or spurious hot key changes the
    plan, never the output.
    """
    lay = PitLayout(events, entity, ts, numeric_col, token_col, vocab, tiebreak, passthrough)
    ev = events.select(*lay.inputs)
    sn = snapshots.select(entity, snap_ts, snap_id)

    if hot_ids is None and hot_threshold is not None:
        hot_ids = hot_entities_countmin(ev, entity, hot_threshold)
    if hot_ids is not None and not hot_ids:
        return pit_features_bucketed(
            ev, sn, entity, ts, numeric_col, token_col, vocab, snap_ts, snap_id,
            gap_seconds, width, tiebreak, num_buckets, passthrough,
        )
    return _salted_path(
        ev, sn, lay, hot_ids, snap_ts, snap_id, gap_seconds, width, chunk_seconds, num_buckets
    )


# right-side row kinds of the kernel cogroup: a chunk's carries, a
# snapshot, and one row of a chunk's carried tail
CARRY, SNAP, TAIL = 1, 2, 3
# the right side's other columns and their types. (t, i) is a snapshot's
# time and id, or a tail row's time and place in its carried tail; x and
# code are a tail row's value and token code; the rest are a chunk's
# carries. Long columns are never null, so ids stay int64 in pandas.
RIGHT = {
    "t": "long", "i": "long", "x": "double", "code": "long",
    "last_sess": "long", "open_run": "long", "bf_seed": "double", "next_first": "double",
}
# what chunk_summaries returns per tail row, besides its row index
SUMMARY = {
    "rank": "long", "ts": "long", "x": "double", "n": "long", "first_ts": "long",
    "first_x": "double", "last_nn": "double", "breaks": "long", "trail": "long",
}
# the one chunk of every cold entity: a whole timeline, no carry row
COLD_CHUNK = 0


def _segments(ents: list, chunks: list) -> np.ndarray:
    """(entity, chunk) segment codes over several row sets at once."""
    ent, _ = pd.factorize(np.concatenate([np.asarray(e) for e in ents]))
    chk = np.concatenate([np.asarray(c) for c in chunks]).astype(np.int64)
    chk -= chk.min()
    seg, _ = pd.factorize(ent * (int(chk.max()) + 1) + chk)
    return seg


def _right(kind: int, re, rc, **cols) -> pd.DataFrame:
    """Right-side rows of one kind; unset columns get 0 or NaN."""
    n = len(re)
    fill = {c: np.full(n, 0 if t == "long" else np.nan) for c, t in RIGHT.items()}
    return pd.DataFrame({"__re": re, CHUNK: rc, "__tag": np.full(n, kind), **fill, **cols})


def _salted_path(
    ev: DataFrame,
    sn: DataFrame,
    lay: PitLayout,
    hot_ids: list | None,
    snap_ts: str,
    snap_id: str,
    gap_seconds: int,
    width: int,
    chunk_seconds: int,
    num_buckets: int,
) -> DataFrame:
    """Salted PIT kernel: three bucketed pandas passes, no per-chunk Python.

    The first version of this path ran one pandas call per (entity, chunk)
    group three times over. At the 10M-row scale tier (150k entities x 6h
    chunks over 30 days) that is ~9M near-singleton Arrow batches — hours
    of pure Python dispatch for seconds of real work, found by the round-6
    full-registry gate at the tier. Its successor computed steps 1-2 with
    JVM windows; their generated classes overflowed Spark's codegen cache,
    so every pass recompiled. Now every step is one bucketed pandas pass
    whose NumPy body lives in ``kernels``:

    1. **Chunk summaries.** The hot events, grouped by the kernel's own
       salted bucket pmod(xxhash64(entity, chunk), B), go through
       ``kernels.chunk_summaries``: each chunk's last ``width-1`` rows as
       flat rows, each carrying the chunk's row count, first ts and value,
       last non-null value, inner session breaks and last-session length.
       Rows sort by (ts, tiebreak) with nulls last, as in the kernel.
    2. **Carry scan.** The summaries, cogrouped with the snapshots by
       pmod(xxhash64(entity), B), go through ``kernels.chunk_carries``:
       per chunk its session offset, open run, backfill seed, next first
       value, carried tail and the latest snapshot of a strictly earlier
       chunk (``kernels.segment_asof`` at the chunk's start). It emits
       the kernel's whole right side: every snapshot as a SNAP row, and
       per chunk one CARRY row, its carried snapshot as another SNAP row
       and its tail as TAIL rows.
    3. **Bucketed margin-row kernel.** Events and step 2's rows cogroup
       on pmod(xxhash64(entity, chunk), B). Cold entities
       take the constant chunk COLD_CHUNK and no carry row: one
       whole-timeline segment each. TAIL rows become margin rows ahead of
       their chunk's body rows, and one call to
       ``kernels.segment_features`` over (entity, chunk) segments — the
       call pit_features_bucketed makes, plus the carries — computes every
       feature.

    Per-batch Python cost is paid about B times per pass, independent of
    how many (entity, chunk) groups exist. Bit-identical to the unsalted
    features by the margin/carry algebra of the module docstring;
    tests/test_skew.py asserts it against pit_features_declarative.
    """
    entity, ts, numeric_col, token_col = lay.entity, lay.ts, lay.numeric_col, lay.token_col
    chunk_us = chunk_seconds * 1_000_000
    gap_us = gap_seconds * 1_000_000
    tail_n = max(width - 1, 1)
    etype = ev.schema[entity].dataType.simpleString()

    is_hot = F.lit(True) if hot_ids is None else F.col(entity).isin(hot_ids)

    def chunk_of(t: str):
        salt = F.floor(ts_us(t) / F.lit(chunk_us))
        return F.when(is_hot, salt).otherwise(F.lit(COLD_CHUNK).cast("long"))

    def bucket(*cols: str):
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets)).cast("int")

    left = ev.withColumn(CHUNK, chunk_of(ts)).withColumn("__b", bucket(entity, CHUNK))
    sn_c = sn.select(
        F.col(entity).alias("__re"), chunk_of(snap_ts).alias(CHUNK),
        ts_us(snap_ts).alias("t"), F.col(snap_id).cast("long").alias("i"),
    )

    # ---- 1. chunk summaries of the hot events ---------------------------
    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        t = to_us(pdf[ts])
        seg = _segments([pdf[entity]], [pdf[CHUNK]])
        order = np.lexsort((*lay.tiebreak_keys(pdf), t, seg))
        s = kernels.chunk_summaries(
            seg[order], t[order], pdf[numeric_col].to_numpy(np.float64)[order], gap_us, tail_n
        )
        rows = order[s.pop("row")]
        return pd.DataFrame({
            "__re": pdf[entity].to_numpy()[rows], CHUNK: pdf[CHUNK].to_numpy()[rows],
            "code": lay.codes(pdf[token_col].to_numpy()[rows]), **s,
        })

    summ_schema = ", ".join(
        [f"__re {etype}", f"{CHUNK} long", "code long", *[f"{c} {t}" for c, t in SUMMARY.items()]]
    )
    summ = left.where(is_hot).groupBy("__b").applyInPandas(summarize, summ_schema)

    # ---- 2. per-entity carry scan: the kernel's whole right side --------
    def scan(s_pdf: pd.DataFrame, sn_pdf: pd.DataFrame) -> pd.DataFrame:
        s_t, s_i = sn_pdf["t"].to_numpy(np.int64), sn_pdf["i"].to_numpy(np.int64)
        snaps = _right(SNAP, sn_pdf["__re"].to_numpy(), sn_pdf[CHUNK].to_numpy(), t=s_t, i=s_i)
        if len(s_pdf) == 0:
            return snaps
        ent, _ = pd.factorize(np.concatenate([s_pdf["__re"].to_numpy(), sn_pdf["__re"].to_numpy()]))
        e, chk = ent[: len(s_pdf)], s_pdf[CHUNK].to_numpy(np.int64)
        order = np.lexsort((-s_pdf["rank"].to_numpy(), chk, e))
        tail = {c: s_pdf[c].to_numpy()[order] for c in [*SUMMARY, "code"]}
        c = kernels.chunk_carries(
            e[order], chk[order], tail, gap_us, tail_n, chunk_us, ent[len(s_pdf):], s_t, s_i
        )
        re, rc = s_pdf["__re"].to_numpy()[order][c["first"]], chk[order][c["first"]]
        has = c["snap"] >= 0
        hit = c["snap"][has]
        dst, src = c["tail_chunk"], c["tail_row"]
        carried = {k: c[k] for k in ("last_sess", "open_run", "bf_seed", "next_first")}
        return pd.concat([
            snaps,
            _right(CARRY, re, rc, **carried),
            _right(SNAP, re[has], rc[has], t=s_t[hit], i=s_i[hit]),
            _right(TAIL, re[dst], rc[dst], t=tail["ts"][src], i=c["tail_pos"],
                   x=tail["x"][src], code=tail["code"][src]),
        ], ignore_index=True)

    right_schema = ", ".join(
        [f"__re {etype}", f"{CHUNK} long", "__tag long", *[f"{c} {t}" for c, t in RIGHT.items()]]
    )
    right = (
        summ.withColumn("__eb", bucket("__re")).groupBy("__eb")
        .cogroup(sn_c.withColumn("__eb", bucket("__re")).groupBy("__eb"))
        .applyInPandas(scan, right_schema)
        .withColumn("__b", bucket("__re", CHUNK))
    )

    # ---- 3. bucketed kernel: carries, tails and snapshots on the right --
    def kern(ev_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(ev_pdf) == 0:
            return lay.empty()
        kind = r_pdf["__tag"].to_numpy()
        cy, sns, tl = (r_pdf[kind == k] for k in (CARRY, SNAP, TAIL))
        n_b, n_m = len(ev_pdf), len(tl)
        seg_all = _segments(
            [ev_pdf[entity], cy["__re"], sns["__re"], tl["__re"]],
            [ev_pdf[CHUNK], cy[CHUNK], sns[CHUNK], tl[CHUNK]],
        )
        b_seg, c_seg, s_seg, m_seg = np.split(seg_all, np.cumsum([n_b, len(cy), len(sns)]))

        # per-segment carries, indexed by segment code; cold segments and
        # an entity's first chunk keep the defaults
        n_seg = int(seg_all.max()) + 1
        carried = {}
        for name, fill in (
            ("last_sess", -1), ("open_run", 0), ("bf_seed", np.nan), ("next_first", np.nan),
        ):
            carried[name] = np.full(n_seg, fill)
            carried[name][c_seg] = cy[name].to_numpy(carried[name].dtype)

        # margin rows ahead of the body rows. Their ts is strictly before
        # every body ts of their chunk, so the tiebreak only orders body
        # rows and the tail position only margin rows.
        t = np.concatenate([tl["t"].to_numpy(np.int64), to_us(ev_pdf[ts])])
        x = np.concatenate([tl["x"].to_numpy(np.float64), ev_pdf[numeric_col].to_numpy(np.float64)])
        codes = np.concatenate([tl["code"].to_numpy(np.int64), lay.codes(ev_pdf[token_col])])
        seg = np.concatenate([m_seg, b_seg])
        keys = [
            np.concatenate([np.zeros(n_m, dtype=k.dtype), k])
            for k in lay.tiebreak_keys(ev_pdf)
        ]
        pos = np.concatenate([tl["i"].to_numpy(np.int64), np.zeros(n_b, dtype=np.int64)])
        order = np.lexsort((*keys, pos, t, seg))
        margin = order < n_m
        f = kernels.segment_features(
            seg[order], t[order], x[order], codes[order],
            len(lay.wc), width, gap_us,
            s_seg, sns["t"].to_numpy(np.int64), sns["i"].to_numpy(np.int64),
            margin=margin, **carried,
        )
        return lay.frame(ev_pdf.iloc[order[~margin] - n_m], f)

    return lay.project(
        left.groupBy("__b").cogroup(right.groupBy("__b")).applyInPandas(kern, lay.schema)
    )


def morton_code(x, y, bits: int = 16):
    """Column expression: interleave the low ``bits`` bits of two
    non-negative integer columns into a Z-order (Morton) key — the
    data-LAYOUT primitive behind multi-dimensional file clustering
    (Iceberg/Delta Z-ORDER BY): rows close in (x, y) land close in the
    1-D sort order, so min/max file statistics prune on BOTH columns.
    Pure integer bit arithmetic (shifts + masks), bit-identical in any
    engine."""
    code = F.lit(0).cast("long")
    xs = F.col(x).cast("long") if isinstance(x, str) else x.cast("long")
    ys = F.col(y).cast("long") if isinstance(y, str) else y.cast("long")
    for i in range(bits):
        bit = F.lit(1 << i).cast("long")
        code = (
            code
            + F.shiftleft(xs.bitwiseAND(bit), i)
            + F.shiftleft(ys.bitwiseAND(bit), i + 1)
        )
    return code


def zorder_layout(
    df,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 16,
):
    """Assign each row its Z-order key and target file id (equal-width
    key-range buckets over the interleaved space). At write time this is
    `repartitionByRange(morton)` + per-file min/max stats; here the
    assignment itself is the testable artifact: a zero-shuffle projection
    (the range bucketing below uses the STATIC key space, not sampled
    quantiles, so no pre-pass and no exchange — deterministic in any
    engine)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31] so 2*bits fits int64, got {bits}")
    code = morton_code(x_col, y_col, bits)
    span = 1 << (2 * bits)
    width = span // n_files
    # Integer `div`, not float `/`: for bits >= 27 the 2*bits-bit key
    # exceeds 2^53 and double rounding could misassign boundary rows.
    return df.withColumn("zorder_key", code).withColumn(
        "file_id",
        F.least(
            F.expr(f"zorder_key div {width}L"),
            F.lit(n_files - 1).cast("long"),
        ).cast("int"),
    )


def countmin_estimates(
    df,
    key_col: str,
    d: int = 4,
    w: int = 1024,
    salt: str = "cm1",
    keys=None,
):
    """COUNT-MIN SKETCH hot-key estimation — the constant-memory
    substitute for an exact per-key count when the key space is huge
    (the skew-detection pre-pass: route keys whose estimate crosses the
    hot threshold into the salted path without a full groupBy over the
    raw key). d hash rows x w buckets; every event increments one bucket
    per row (portable md5-fold, salted per row); a key's estimate is the
    min over its d buckets — NEVER an underestimate (the CMS guarantee,
    asserted row-by-row by the oracle, which replays the identical
    integer arithmetic).

    Plan: one groupBy((row, bucket)) partial agg over the d-fold fan-out
    (d x |events| narrow rows, map-side combined into <= d*w sketch
    rows), then the per-key estimate joins each probe key against the
    tiny sketch (broadcast). ``keys`` (a 1-column DataFrame of probe
    keys) bounds the probe side; when None every DISTINCT input key is
    probed — fine for auditing, but at 10^9-key scale pass a bounded
    candidate set (see hot_entities_countmin). Returns (key, cm_est)."""
    def fold(col, i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(f"{salt}{i}"))), 1, 15
                ),
                16, 10,
            ).cast("long") % w
        )

    key = F.col(key_col)
    rows = df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), fold(key, i).alias("b"))
                for i in range(d)
            ])
        ).alias("rb")
    ).select(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    cms = rows.groupBy("r", "b").agg(F.count(F.lit(1)).alias("n"))
    if keys is None:
        keys = df.select(key.alias(key_col)).distinct()
    else:
        keys = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
    probes = keys.select(
        key_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("r"), fold(F.col(key_col), i).alias("b"))
                for i in range(d)
            ])
        ).alias("rb"),
    ).select(key_col, F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    return (
        probes.join(F.broadcast(cms), ["r", "b"])
        .groupBy(key_col)
        .agg(F.min("n").cast("long").alias("cm_est"))
    )


def zorder_files_for_box(
    x0: int, x1: int, y0: int, y1: int, n_files: int = 16, bits: int = 16
) -> list:
    """File ids a (x,y) range query can touch under the zorder_layout
    assignment — the layout-aware reader's partition-pruning set (what an
    Iceberg/Delta reader derives from per-file min/max of the Z-key).
    Exact by enumeration over the box's integer grid (O(box area) driver
    work: meant for the SMALL query boxes where pruning pays; a
    production reader over huge boxes would use the BIGMIN z-range
    decomposition instead — same output set)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    width = (1 << (2 * bits)) // n_files

    def interleave(x: int, y: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    ids = {
        min(interleave(x, y) // width, n_files - 1)
        for x in range(x0, x1 + 1)
        for y in range(y0, y1 + 1)
    }
    return sorted(ids)
