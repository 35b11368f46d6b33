"""Point-in-time (as-of) join — the engine's core operator.

Spark has no SQL ASOF JOIN. The production joins are pure JVM plans built by
one private function, ``_tagged_asof``: tag + union + ``last``/``first
(ignorenulls)`` over a (key, ts, tag, seq) window. One shuffle, whole-stage
codegen, no Python; at 100 TB it is a single sort-based exchange that AQE can
skew-split, and the `bytes` payload column (if any) must be projected away by
the caller before it (SURVEY.md §7 hard-point 3).

- ``asof_join_window`` — backward (most recent snapshot) join, the default.
- ``asof_join_multi`` — backward join against K snapshot groups in one pass.
- ``asof_join_forward`` — forward (next snapshot) join, for labels.
- ``asof_join_nearest`` — nearest snapshot within a tolerance; it arbitrates
  a backward and a forward candidate, so it has its own plan.

``asof_join_cursor`` is the independent reference the tests compare the window
joins with: ``left.groupBy(k).cogroup(right.groupBy(k)).applyInPandas`` with a
vectorized ``searchsorted`` merge per entity (kernels.asof_indices). All of
them are oracle'd against DuckDB ASOF JOIN.

Tie semantics (SURVEY.md §7 hard-point 1): ``strict=True`` (default) matches
only snapshots with ``snapshot_ts`` **strictly before** ``event_ts`` — the
zero-temporal-leakage choice when snapshots derive from the same stream.
``strict=False`` gives at-or-before. Among equal right timestamps the one
latest in ``right_order`` wins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_pit import kernels

_TAG = "__pit_tag"
_SEQ = "__pit_seq"


def _tagged_asof(
    left: DataFrame,
    groups: list[tuple],
    on: list[str],
    left_ts: str,
    strict: bool,
    forward: bool = False,
) -> DataFrame:
    """The union-window as-of plan shared by the window, multi and forward
    joins. ``groups`` holds (prefix, df, right_ts, value_cols, order_col).
    Left rows carry null ``{prefix}{c}`` / ``{prefix}ts`` columns, each
    group's rows carry nulls for every column but its own, and all of them
    are unioned and sorted by (key, ts, tag, seq) in ONE exchange. Each
    carried column is ``last`` (backward) or ``first`` (forward) ignoring
    nulls, so the groups' window states never interact. At equal timestamps
    the tag orders a right row before the left row exactly when the frame
    should include it; among equal right timestamps ``order_col`` breaks the
    tie (the latest wins backward, the earliest forward)."""
    left_tag, right_tag = (0, 1) if strict != forward else (1, 0)
    lhs = left.withColumn(_TAG, F.lit(left_tag)).withColumn(_SEQ, F.lit(0))
    carried: list[str] = []
    for prefix, rdf, rts, vcols, _ in groups:
        for c in vcols:
            lhs = lhs.withColumn(f"{prefix}{c}", F.lit(None).cast(rdf.schema[c].dataType))
        lhs = lhs.withColumn(f"{prefix}ts", F.lit(None).cast(rdf.schema[rts].dataType))
        carried += [f"{prefix}{c}" for c in vcols] + [f"{prefix}ts"]

    unioned = lhs
    for prefix, rdf, rts, vcols, order_col in groups:
        rhs = rdf.select(
            *on,
            F.col(rts).alias(left_ts),
            F.lit(right_tag).alias(_TAG),
            (F.col(order_col) if order_col else F.lit(0)).cast("long").alias(_SEQ),
            *[F.col(c).alias(f"{prefix}{c}") for c in vcols],
            F.col(rts).alias(f"{prefix}ts"),
        )
        have = set(rhs.columns)
        for f in lhs.schema.fields:
            if f.name not in have:
                rhs = rhs.withColumn(f.name, F.lit(None).cast(f.dataType))
        unioned = unioned.unionByName(rhs.select(*lhs.columns))

    frame = (
        (Window.currentRow, Window.unboundedFollowing)
        if forward
        else (Window.unboundedPreceding, Window.currentRow)
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(left_ts).asc(), F.col(_TAG).asc(), F.col(_SEQ).asc())
        .rowsBetween(*frame)
    )
    pick = F.first if forward else F.last
    for c in carried:
        unioned = unioned.withColumn(c, pick(c, ignorenulls=True).over(w))
    return unioned.where(F.col(_TAG) == left_tag).drop(_TAG, _SEQ)


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = True,
    prefix: str = "asof_",
    right_order: str | None = None,
) -> DataFrame:
    """As-of join via union + last-ignore-nulls window. Returns all left rows
    + columns ``{prefix}{c}`` for c in value_cols and ``{prefix}ts``."""
    return _tagged_asof(
        left, [(prefix, right, right_ts, value_cols, right_order)], on, left_ts, strict
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_us: int,
    prefix: str = "asof_",
    right_order: str | None = None,
) -> DataFrame:
    """Nearest-snapshot as-of join — ``pd.merge_asof(direction='nearest',
    tolerance=...)`` semantics, the third PIT mode alongside strict-before
    and at-or-before: each left row matches the right row minimizing
    ``|right_ts − left_ts|`` among rows within ``tolerance_us``
    microseconds; an equidistant past/future tie prefers the PAST (the
    leakage-lenient mode is for label/feature alignment where both
    directions are legal — sensor fusion, nearest-calibration lookup — so
    the tie rule mirrors the backward-looking default).

    Snapshots are first deduped to one row per ``(key, right_ts)`` instant
    (the ``right_order``-max row wins, matching the other modes' "latest
    in right_order" rule) so both directions arbitrate over the same
    candidate. Plan: one partial-agg shuffle on the (small) snapshot side,
    then ONE union + ONE (key, ts) sort under a single Window exchange
    carrying a backward struct (``last ignorenulls``, frame up-to-current)
    and a forward struct (``first ignorenulls``, frame after-current —
    right rows at the exact left instant sort before the left row, so the
    forward frame is strictly-after by construction); arbitration is a
    columnar CASE over the two carried structs. No Python, no second
    shuffle of the event stream.

    Returns all left rows + ``{prefix}{c}``, ``{prefix}ts``,
    ``{prefix}diff_us`` (unsigned distance) and ``{prefix}dir``
    ('backward' / 'forward', null when unmatched)."""
    right_tag, left_tag = 0, 1
    seq = (F.col(right_order) if right_order else F.lit(0)).cast("long")
    payload = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    # one snapshot per (key, instant): right_order-max row wins
    rdedup = (
        right.groupBy(*on, right_ts)
        .agg(F.max(F.struct(seq.alias("__seq"), payload.alias("p"))).alias("m"))
        .select(*on, F.col(right_ts), F.col("m.p").alias("__p"))
    )

    lhs = left.withColumn("__tag", F.lit(left_tag)).withColumn(
        "__p", F.lit(None).cast(rdedup.schema["__p"].dataType)
    )
    rhs = rdedup.select(
        *on,
        F.col(right_ts).alias(left_ts),
        F.lit(right_tag).alias("__tag"),
        "__p",
    )
    for f in left.schema.fields:
        if f.name not in on and f.name != left_ts:
            rhs = rhs.withColumn(f.name, F.lit(None).cast(f.dataType))
    rhs = rhs.select(*lhs.columns)

    order = [F.col(left_ts).asc(), F.col("__tag").asc()]
    wb = Window.partitionBy(*on).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy(*on).orderBy(*order).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    u = (
        lhs.unionByName(rhs)
        .withColumn("__b", F.last("__p", ignorenulls=True).over(wb))
        .withColumn("__f", F.first("__p", ignorenulls=True).over(wf))
        .where(F.col("__tag") == left_tag)
    )
    from spark_pit.util import ts_us as _us

    lus = _us(F.col(left_ts))
    bdiff = lus - _us(F.col("__b.__rts"))
    fdiff = _us(F.col("__f.__rts")) - lus
    b_ok = F.col("__b").isNotNull() & (bdiff <= F.lit(tolerance_us))
    f_ok = F.col("__f").isNotNull() & (fdiff <= F.lit(tolerance_us))
    pick_b = b_ok & (~f_ok | (bdiff <= fdiff))
    chosen = F.when(pick_b, F.col("__b")).when(f_ok, F.col("__f"))
    out = (
        u.withColumn("__c", chosen)
        .withColumn(
            f"{prefix}dir",
            F.when(pick_b, F.lit("backward")).when(f_ok, F.lit("forward")),
        )
        .withColumn(
            f"{prefix}diff_us",
            F.when(pick_b, bdiff).when(f_ok, fdiff).cast("long"),
        )
    )
    for c in value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col(f"__c.{c}"))
    return out.withColumn(f"{prefix}ts", F.col("__c.__rts")).drop(
        "__tag", "__p", "__b", "__f", "__c"
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = True,
    prefix: str = "next_",
    right_order: str | None = None,
) -> DataFrame:
    """Forward (lookahead) as-of join — each left row matches the EARLIEST
    right row with ``right_ts > left_ts`` (strict, default) or ``>=``.
    This is the LABEL-generation mirror of the backward PIT join:
    "time-to-next-purchase", "next snapshot after the event" targets —
    kept as a separate operator (never fused into the feature path) so
    the leakage direction of every column is explicit in the plan.

    Same single union + (key, ts) sort shape as ``asof_join_window``:
    the match is ``first(ignorenulls)`` over the after-current frame. At
    equal timestamps the right row sorts before (strict) or after
    (non-strict) the left row, which is exactly what ex/includes the
    same-instant snapshot from the following frame. Among equal right
    timestamps the EARLIEST in ``right_order`` wins (mirror of the
    backward rule). Returns all left rows + ``{prefix}{c}`` and
    ``{prefix}ts``."""
    return _tagged_asof(
        left, [(prefix, right, right_ts, value_cols, right_order)], on, left_ts, strict, forward=True
    )


def asof_join_cursor(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = True,
    prefix: str = "asof_",
    right_order: str | None = None,
) -> DataFrame:
    """As-of join via cogrouped sort-merge cursor (applyInPandas)."""
    out_fields = list(left.schema.fields)
    right_schema = {f.name: f for f in right.schema.fields}
    for c in value_cols:
        out_fields.append(T.StructField(f"{prefix}{c}", right_schema[c].dataType, True))
    out_fields.append(T.StructField(f"{prefix}ts", right_schema[right_ts].dataType, True))
    out_schema = T.StructType(out_fields)
    left_cols = [f.name for f in left.schema.fields]
    r_sort = [right_ts] + ([right_order] if right_order else [])

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        l = l.sort_values(left_ts, kind="stable").reset_index(drop=True)
        out = l[left_cols].copy()
        if len(r) == 0:
            for c in value_cols:
                out[f"{prefix}{c}"] = None
            out[f"{prefix}ts"] = pd.NaT
            return out
        r = r.sort_values(r_sort, kind="stable").reset_index(drop=True)
        idx = kernels.asof_indices(
            l[left_ts].to_numpy().astype("datetime64[us]").astype(np.int64),
            r[right_ts].to_numpy().astype("datetime64[us]").astype(np.int64),
            strict=strict,
        )
        matched = idx >= 0
        take = idx.clip(0)
        for c in value_cols:
            vals = r[c].to_numpy()[take]
            col = pd.Series(list(vals), dtype=object)
            col[~matched] = None
            out[f"{prefix}{c}"] = col
        ts_col = pd.Series(r[right_ts].to_numpy()[take])
        ts_col[~matched] = pd.NaT
        out[f"{prefix}ts"] = ts_col
        return out

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(merge, schema=out_schema)
    )


def asof_join_multi(
    left: DataFrame,
    rights: list[tuple],
    on: list[str],
    left_ts: str,
    strict: bool = True,
) -> DataFrame:
    """FEATURE-STORE point-in-time join: one event stream against K
    snapshot feature groups in a SINGLE window pass. ``rights`` is a list
    of (group_name, df, right_ts, value_cols[, order_col]); each event
    row gets every group's most recent strictly-before (or at-or-before)
    values as ``{group}_{col}`` + ``{group}_ts``; among equal snapshot
    timestamps within a group the order_col-latest row wins (REQUIRED
    whenever a group can hold duplicate (key, ts) rows — without it the
    pick among exact ties is partition-order dependent).

    This is the one-shuffle generalization of asof_join_window: all K
    snapshot streams are tagged and unioned with the events, and ONE
    (key, ts, tag, seq) sort exchange carries K independent
    last-ignore-nulls column families (each group's carried columns are
    null on every other group's rows, so the window states never
    interact). K separate as-of joins would pay K sort shuffles of the
    full event stream — the dominant cost at 10^12 events; this pays
    exactly one, and AQE can still skew-split the single exchange.
    Same tie semantics as asof_join_window (strict ⇒ zero temporal
    leakage; right_order-latest wins among equal snapshot timestamps).
    """
    names = [r[0] for r in rights]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate group names in rights: {names}")
    groups = [(f"{r[0]}_", r[1], r[2], list(r[3]), (r[4] if len(r) > 4 else None))
              for r in rights]
    taken = set(left.columns)
    for prefix, _, _, vcols, _ in groups:
        for gen in [f"{prefix}{c}" for c in vcols] + [f"{prefix}ts"]:
            if gen in taken:
                raise ValueError(
                    f"generated column {gen!r} collides with an existing "
                    "column; rename the group or the left column"
                )
            taken.add(gen)
    return _tagged_asof(left, groups, on, left_ts, strict)
