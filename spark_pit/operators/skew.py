"""Salted skew handling for the fused PIT pipeline (north_rule clause:
"Skew on hot image_ids is broken via salted repartitioning with AQE
skew-join hints").

The reference is single-threaded so skew cannot exist there (SURVEY.md §4
"skew handling: n/a"); at 10^12-row scale a hot entity whose timeline
exceeds one task's memory/time budget is the dominant failure mode of the
``groupBy(entity).applyInPandas`` cursor. This module splits hot entities
into **time chunks** (the salt = ``floor(ts / chunk_seconds)``) so one
entity's timeline fans out over many tasks, while keeping the output
*bit-identical* to the unsalted cursor:

1. **Chunk summaries** — one tiny row per (entity, chunk): row count,
   first/last ts, the trailing ``width-1`` (ts, value, token) rows, last
   non-null value, internal session-break count, trailing-run length,
   first value. Pure JVM: one window pass partitioned on the salted key +
   a groupBy that reuses its partitioning — hash-partitioned, so no skew,
   and no per-group Python (the original applyInPandas version paid one
   pandas call per (entity, chunk); at the 10M-row tier that is ~9M
   near-singleton Arrow batches — hours of dispatch overhead, found by
   the round-6 full-registry gate).
2. **Carry scan** — the exact pre-chunk state each chunk needs:
   session-id offset, open-run length, accumulated margin tail (exact
   across sparse chunks — the tail is re-accumulated, not just "previous
   chunk's rows"), backfill seed, latest strictly-before snapshot, and
   the next populated chunk's first value (for lead-1). Pure JVM window
   algebra over the tiny summary table: prefix sums, a
   max-of-reset-struct + prefix-count difference for the open-run
   recurrence, last(ignorenulls) cursors over a union frame ordered
   (chunk, tag) for the strictly-before snapshot, and a bounded
   ``rows between -k and -1`` flatten+slice for the carried tails.
3. **Salted kernel** — ONE bucketed cogroup on
   ``pmod(xxhash64(entity, chunk), B)``: carries and chunk snapshots ride
   the right side (no broadcast of the carry table — in all-salted
   equivalence mode it is O(populated chunks), far past broadcast size),
   carried tails are materialized as margin rows, and
   ``kernels.segment_features`` — the kernel pit_features_bucketed calls,
   here given the carries — computes every feature over (entity, chunk)
   segments. Per-batch Python cost is paid B times total, independent of
   how many (entity, chunk) groups exist.

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
    few by definition). At 10^9+ distinct keys the groupBy's hash state
    is the bottleneck; prefer hot_entities_countmin, which is
    constant-memory and never misses a hot key w.h.p."""
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
    full-key distinct anywhere in the plan.

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
    metadata-only on parquet sources. Sketch rows stay bounded:
    d·bias_factor·N/T counters ≪ distinct keys whenever keys ≫ N/T, the
    regime this detector exists for (at N=10¹³, T=10⁷: w=8·10⁶ vs 10⁹
    keys).

    CMS never underestimates, so every surviving hot key crosses the
    threshold; overestimates only route extra keys to the salted path,
    which is semantics-preserving by construction (asserted by
    tests/test_skew.py equivalence tests). Returns the hot-key list.

    Caveat: with threshold <= oversample the sample rate clamps to 1 and
    the candidate distinct degrades to the exact key space — at the
    scales where this detector matters thresholds are >> 50."""
    n = events.count()
    w_eff = max(w, (bias_factor * n) // max(threshold, 1) + 1)
    rate_denom = max(1, threshold // oversample)
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
    hot_detector: str = "countmin",
    num_buckets: int = 256,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """pit_features_cursor semantics with hot entities salted by time chunk.

    ``hot_ids`` (explicit) or ``hot_threshold`` (count-based detection)
    select the salted population; everything else takes
    pit_features_bucketed. With ``hot_ids=None, hot_threshold=None`` every
    entity is salted (used by the equivalence tests). ``tiebreak`` and
    ``passthrough`` mean what they mean for pit_features_bucketed.

    ``hot_detector`` picks the detection plan when ``hot_threshold`` is
    set: "countmin" (default — constant-memory CMS + sampled candidates,
    the only shape that survives 10^9 distinct keys) or "exact" (full
    per-key groupBy; useful as the audit baseline). Detection only
    ROUTES keys; either detector yields identical output.
    """
    lay = PitLayout(events, entity, ts, numeric_col, token_col, vocab, tiebreak, passthrough)
    ev = events.select(*lay.inputs)
    sn = snapshots.select(entity, snap_ts, snap_id)

    if hot_ids is None and hot_threshold is not None:
        if hot_detector == "countmin":
            hot_ids = hot_entities_countmin(ev, entity, hot_threshold)
        elif hot_detector == "exact":
            hot_ids = hot_entities(ev, entity, hot_threshold)
        else:
            raise ValueError(f"unknown hot_detector {hot_detector!r}")

    salted = (snap_ts, snap_id, gap_seconds, width, chunk_seconds, num_buckets)
    if hot_ids is None:
        return _salted_path(ev, sn, lay, *salted)

    def bucketed(e, s):
        return pit_features_bucketed(
            e, s, entity, ts, numeric_col, token_col, vocab, snap_ts, snap_id,
            gap_seconds, width, tiebreak, num_buckets, passthrough,
        )

    if not hot_ids:
        return bucketed(ev, sn)
    is_hot = F.col(entity).isin(hot_ids)
    cold = bucketed(ev.where(~is_hot), sn.where(~is_hot))
    return cold.unionByName(_salted_path(ev.where(is_hot), sn.where(is_hot), lay, *salted))


# right-side row kinds of the salted cogroup, as bit flags: a carry row
# may also hold the carried pre-chunk snapshot
CARRY, SNAP = 1, 2


def _salted_path(
    ev: DataFrame,
    sn: DataFrame,
    lay: PitLayout,
    snap_ts: str,
    snap_id: str,
    gap_seconds: int,
    width: int,
    chunk_seconds: int,
    num_buckets: int,
) -> DataFrame:
    """Salted PIT kernel with zero per-group Python overhead.

    The first version of this path ran one pandas call per (entity, chunk)
    group three times over. At the 10M-row scale tier (150k entities x 6h
    chunks over 30 days) that is ~9M near-singleton Arrow batches — hours
    of pure Python dispatch for seconds of real work, found by the round-6
    full-registry gate at the tier. The rebuilt plan:

    1. **Chunk summaries — pure JVM.** One window pass partitioned on the
       salted key (entity, chunk) computes row counts, first/last
       timestamps, internal session breaks, trailing-run length, the last
       non-null value and the trailing ``width-1`` (ts, value, token)
       tail — via lag / row_number / conditional struct min-max /
       bounded collect_list. groupBy reuses the window's partitioning:
       ONE exchange of the events, no Python. Tiebreak columns order
       nulls-last, as the kernel's lexsort does.
    2. **Carry scan — pure JVM.** The per-entity recurrences over chunk
       summaries are all window-expressible: session offset is a prefix
       sum, the open-run length is a max-of-reset-struct + prefix-count
       difference, the backfill seed is last(ignorenulls), the carried
       tail is a bounded ``rows between -k and -1`` flatten+slice, and
       the strictly-before snapshot carry comes from a union frame
       ordered (chunk, tag) with snapshots sorting AFTER events of the
       same chunk. Summaries are tiny (one row per populated chunk), so
       these exchanges are negligible.
    3. **Bucketed margin-row kernel.** Carries (scalars + tail arrays)
       and chunk snapshots ride the cogroup's RIGHT side keyed by
       pmod(xxhash64(entity, chunk), B) — no broadcast of the carry
       table, which in all-salted mode is O(populated chunks). The
       carried pre-chunk snapshot travels on its chunk's carry row as an
       ordinary snapshot, so the snapshot id column is never null and
       stays int64. Inside the kernel the carried tails become margin
       rows ahead of the chunk's body rows, and one call to
       ``kernels.segment_features`` over (entity, chunk) segments —
       the same call pit_features_bucketed makes, plus the carries —
       computes every feature. Per-batch cost is paid B times total,
       independent of how many (entity, chunk) groups exist.

    Bit-identical to pit_features_cursor by the margin/carry algebra of
    the module docstring; tests/test_skew.py asserts it.
    """
    from pyspark.sql import Window

    entity, ts, numeric_col, token_col = lay.entity, lay.ts, lay.numeric_col, lay.token_col
    chunk_us = chunk_seconds * 1_000_000
    gap_us = gap_seconds * 1_000_000
    tail_n = max(width - 1, 1)

    ev_c = ev.withColumn("__tus", ts_us(ts)).withColumn(
        CHUNK, F.floor(F.col("__tus") / F.lit(chunk_us))
    )
    sn_c = sn.withColumn("__stus", ts_us(snap_ts)).withColumn(
        CHUNK, F.floor(F.col("__stus") / F.lit(chunk_us))
    )

    # ---- 1. chunk summaries: one JVM window + agg on the salted key -----
    tb = lay.tb
    asc = [F.col("__tus").asc()] + [F.col(c).asc_nulls_last() for c in tb]
    desc = [F.col("__tus").desc()] + [F.col(c).desc_nulls_first() for c in tb]
    W = Window.partitionBy(entity, CHUNK).orderBy(*asc)
    Wd = Window.partitionBy(entity, CHUNK).orderBy(*desc)

    brk = F.when(
        F.col("__tus") - F.lag("__tus").over(W) > F.lit(gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    # struct field order (t, [null flag, key]..., payload) makes
    # sort_array/min/max follow the kernel's (ts, tiebreak nulls-last)
    # sort exactly, ties included
    def _keyed(*payload):
        keys = []
        for i, c in enumerate(tb):
            keys += [F.col(c).isNull().alias(f"n{i}"), F.col(c).alias(f"k{i}")]
        return F.struct(F.col("__tus").alias("t"), *keys, *payload)

    evw = ev_c.select(
        entity, CHUNK, "__tus", *dict.fromkeys([*tb, numeric_col, token_col]),
        brk.alias("__brk"),
        F.row_number().over(W).alias("__rn"),
        F.row_number().over(Wd).alias("__rnd"),
    )
    tail_struct = F.when(
        F.col("__rnd") <= F.lit(tail_n),
        _keyed(
            F.col(numeric_col).alias("v"), F.col(token_col).alias("tok")
        ),
    )
    summ = (
        evw.groupBy(entity, CHUNK)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__tus").alias("first_ts_us"),
            F.max("__tus").alias("last_ts_us"),
            F.min(_keyed(F.col(numeric_col).alias("v"))).alias("__fv"),
            F.max(
                F.when(
                    F.col(numeric_col).isNotNull(),
                    _keyed(F.col(numeric_col).alias("v")),
                )
            ).alias("__lnn"),
            F.sum("__brk").alias("internal_breaks"),
            F.max(F.when(F.col("__brk") == 1, F.col("__rn"))).alias("__lastbrk"),
            F.sort_array(F.collect_list(tail_struct)).alias("tail"),
        )
        .select(
            entity, CHUNK, "n_rows", "first_ts_us", "last_ts_us",
            F.col("__fv.v").alias("first_value"),
            F.col("__lnn.v").alias("last_nonnull"),
            "internal_breaks",
            F.when(F.col("__lastbrk").isNull(), F.col("n_rows"))
            .otherwise(F.col("n_rows") - F.col("__lastbrk") + 1)
            .alias("trail_run"),
            "tail",
        )
    )

    # ---- 2. per-entity carries: JVM windows over the tiny summary table -
    We = Window.partitionBy(entity).orderBy(CHUNK)
    flat = F.flatten(
        F.collect_list("tail").over(We.rowsBetween(-tail_n, -1))
    )
    summ2 = summ.select(
        "*",
        F.when(
            F.size(flat) > tail_n,
            F.slice(flat, F.size(flat) - F.lit(tail_n - 1), tail_n),
        )
        .otherwise(flat)
        .alias("c_tail"),
        F.lead("first_value").over(We).alias("c_next_first"),
    )

    sn_summ = sn_c.groupBy(entity, CHUNK).agg(
        F.max(
            F.struct(F.col("__stus").alias("t"), F.col(snap_id).cast("long").alias("i"))
        ).alias("__snap")
    )
    # union frame: snapshots sort AFTER the event summary of the same
    # chunk (tag 1 > 0), so last(ignorenulls) over (unbounded, -1) yields
    # the latest snapshot of a STRICTLY smaller chunk — the scan cursor.
    u = summ2.select(
        "*", F.lit(0).alias("__tag"),
        F.lit(None).cast("struct<t:bigint,i:bigint>").alias("__snap"),
    ).unionByName(
        sn_summ.select(
            entity, CHUNK,
            F.lit(None).cast("long").alias("n_rows"),
            F.lit(None).cast("long").alias("first_ts_us"),
            F.lit(None).cast("long").alias("last_ts_us"),
            F.lit(None).cast("double").alias("first_value"),
            F.lit(None).cast("double").alias("last_nonnull"),
            F.lit(None).cast("long").alias("internal_breaks"),
            F.lit(None).cast("long").alias("trail_run"),
            F.lit(None).cast(summ.schema["tail"].dataType).alias("tail"),
            F.lit(None).cast(summ.schema["tail"].dataType).alias("c_tail"),
            F.lit(None).cast("double").alias("c_next_first"),
            F.lit(1).alias("__tag"),
            F.col("__snap"),
        )
    )
    Wu = Window.partitionBy(entity).orderBy(CHUNK, "__tag")
    Wp = Wu.rowsBetween(Window.unboundedPreceding, -1)
    u = (
        u.withColumn("__prev_last", F.last("last_ts_us", ignorenulls=True).over(Wp))
        .withColumn(
            "__sessions_in",
            F.when(F.col("__tag") == 1, F.lit(None).cast("long")).otherwise(
                F.col("internal_breaks")
                + F.when(
                    F.col("__prev_last").isNull()
                    | (F.col("first_ts_us") - F.col("__prev_last") > F.lit(gap_us)),
                    1,
                ).otherwise(0)
            ),
        )
        .withColumn(
            "c_last_sess",
            F.coalesce(F.sum("__sessions_in").over(Wp), F.lit(0)) - F.lit(1),
        )
        .withColumn(
            "__cumn",
            F.sum("n_rows").over(Wu.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("__rnu", F.row_number().over(Wu))
        .withColumn(
            "__reset",
            F.max(
                F.when(
                    F.col("__sessions_in") > 0,
                    F.struct(
                        F.col("__rnu").alias("r"),
                        F.col("trail_run").alias("tr"),
                        F.col("__cumn").alias("cn"),
                    ),
                )
            ).over(Wp),
        )
        .withColumn(
            "c_open_run",
            F.when(F.col("__reset").isNull(), F.lit(0)).otherwise(
                F.col("__reset.tr")
                + (F.col("__cumn") - F.col("n_rows"))
                - F.col("__reset.cn")
            ),
        )
        .withColumn("c_bf_seed", F.last("last_nonnull", ignorenulls=True).over(Wp))
        .withColumn("__csnap", F.last("__snap", ignorenulls=True).over(Wp))
    )
    carries = u.where(F.col("__tag") == 0).select(
        F.col(entity).alias("__re"),
        F.col(CHUNK).alias("__rc"),
        F.when(F.col("__csnap").isNull(), F.lit(CARRY))
        .otherwise(F.lit(CARRY | SNAP)).alias("__tag"),
        F.coalesce(F.col("__csnap.t"), F.lit(0)).alias("s_t"),
        F.coalesce(F.col("__csnap.i"), F.lit(0)).alias("s_i"),
        "c_last_sess",
        "c_open_run",
        "c_bf_seed",
        "c_next_first",
        F.transform("c_tail", lambda s: s["t"]).alias("c_tail_ts"),
        F.transform("c_tail", lambda s: s["v"]).alias("c_tail_val"),
        F.transform("c_tail", lambda s: s["tok"]).alias("c_tail_tok"),
    )

    # ---- 3. bucketed kernel: carries + snapshots on the cogroup right ---
    nulls = [
        F.lit(None).cast("long").alias("c_last_sess"),
        F.lit(None).cast("long").alias("c_open_run"),
        F.lit(None).cast("double").alias("c_bf_seed"),
        F.lit(None).cast("double").alias("c_next_first"),
        F.lit(None).cast("array<long>").alias("c_tail_ts"),
        F.lit(None).cast("array<double>").alias("c_tail_val"),
        F.lit(None).cast("array<string>").alias("c_tail_tok"),
    ]
    r_sn = sn_c.select(
        F.col(entity).alias("__re"),
        F.col(CHUNK).alias("__rc"),
        F.lit(SNAP).alias("__tag"),
        F.col("__stus").alias("s_t"),
        F.col(snap_id).cast("long").alias("s_i"),
        *nulls,
    )
    right = r_sn.unionByName(carries).withColumn(
        "__b",
        F.pmod(F.xxhash64(F.col("__re"), F.col("__rc")), F.lit(num_buckets)).cast("int"),
    )
    left = ev_c.select(*lay.inputs, CHUNK).withColumn(
        "__b",
        F.pmod(F.xxhash64(F.col(entity), F.col(CHUNK)), F.lit(num_buckets)).cast("int"),
    )

    def kern(ev_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(ev_pdf) == 0:
            return lay.empty()
        tag = r_pdf["__tag"].to_numpy()
        cy = r_pdf[(tag & CARRY) > 0]
        sns = r_pdf[(tag & SNAP) > 0]
        n_b, n_c = len(ev_pdf), len(cy)

        # (entity, chunk) segment codes over body rows, carries, snapshots
        ent, _ = pd.factorize(np.concatenate(
            [ev_pdf[entity].to_numpy(), cy["__re"].to_numpy(), sns["__re"].to_numpy()]
        ))
        chk = np.concatenate([ev_pdf[CHUNK], cy["__rc"], sns["__rc"]]).astype(np.int64)
        chk -= chk.min()
        seg_all, _ = pd.factorize(ent * (int(chk.max()) + 1) + chk)
        b_seg, c_seg, s_seg = np.split(seg_all, [n_b, n_b + n_c])

        # per-segment carries, indexed by segment code
        n_seg = int(seg_all.max()) + 1
        carried = {}
        for name, col, fill in (
            ("last_sess", "c_last_sess", -1), ("open_run", "c_open_run", 0),
            ("bf_seed", "c_bf_seed", np.nan), ("next_first", "c_next_first", np.nan),
        ):
            carried[name] = np.full(n_seg, fill)
            carried[name][c_seg] = cy[col].to_numpy(carried[name].dtype)

        # margin rows from the carried tails, ahead of the body rows. Their
        # ts is strictly before every body ts of their chunk, so the
        # tiebreak only orders body rows; a stable sort keeps each tail's
        # own (ts, tiebreak) order.
        n_tail = cy["c_tail_ts"].map(len).to_numpy(np.int64)
        n_m = int(n_tail.sum())

        t = np.concatenate([*cy["c_tail_ts"], to_us(ev_pdf[ts])]).astype(np.int64)
        x = np.concatenate(
            [*cy["c_tail_val"], ev_pdf[numeric_col].to_numpy(np.float64)]
        ).astype(np.float64)
        codes = np.concatenate([
            lay.codes(np.concatenate([[], *cy["c_tail_tok"]])),
            lay.codes(ev_pdf[token_col]),
        ])
        seg = np.concatenate([np.repeat(c_seg, n_tail), b_seg])
        keys = [
            np.concatenate([np.zeros(n_m, dtype=k.dtype), k])
            for k in lay.tiebreak_keys(ev_pdf)
        ]
        order = np.lexsort((*keys, t, seg))
        margin = order < n_m
        f = kernels.segment_features(
            seg[order], t[order], x[order], codes[order],
            len(lay.wc), width, gap_us,
            s_seg, sns["s_t"].to_numpy(np.int64), sns["s_i"].to_numpy(np.int64),
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
