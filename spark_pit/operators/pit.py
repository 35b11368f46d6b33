"""Flagship point-in-time feature pipeline (north_rule).

Fuses into ONE per-entity pass — a single shuffle for the whole feature set:

- as-of match against a snapshot stream (strictly-before, zero leakage)
- lag-1 / lead-1 of the numeric channel
- gap-based session id + position within session
- backfill (last non-null) of the numeric channel
- trailing-window token composition (EAAC analogue) as array<double>
- trailing-window rolling mean of the numeric channel

Physical shape (SURVEY.md §4 partitioning row): both sides are hash-
partitioned by entity bucket in one cogroup, each bucket is sorted once in
pandas, then ``kernels.segment_features`` computes every feature
vectorized over the sorted arrays. On a cluster the equivalent declarative
plan would pay one exchange per window family; the fused kernel pays
exactly one, which is the reason this operator exists. The salted skew
path (spark_pit.operators.skew) calls the same kernel through the same
``PitLayout``, after two NumPy passes that derive each time chunk's
carries; its cold entities ride the same cogroup as whole timelines.

Two independent references build the same columns: the per-entity
``pit_features_cursor`` and the declarative ``pit_features_declarative``
(window/asof operator library). Tests assert the production paths equal
the cursor and the cursor equals the declarative plan; the DuckDB oracle
checks the production paths themselves (queries ``pit_fused``, bucketed,
and ``pit_salted``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit import kernels
from spark_pit.operators import windows
from spark_pit.operators.asof import asof_join_window


def pit_features_cursor(
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
    tiebreak: str | None = None,
) -> DataFrame:
    """Fused single-pass pipeline. Output one row per event."""
    code = {t: i for i, t in enumerate(vocab)}
    V = len(vocab)
    ent_type = events.schema[entity].dataType.simpleString()
    tb = [tiebreak] if tiebreak else []
    tb_field = (
        f"{tiebreak} {events.schema[tiebreak].dataType.simpleString()}, " if tiebreak else ""
    )
    out_schema = (
        f"{entity} {ent_type}, {ts} timestamp_ntz, {tb_field}"
        f"{numeric_col} double, {token_col} string, "
        f"asof_snapshot_id long, asof_age_sec double, "
        f"lag1_{numeric_col} double, lead1_{numeric_col} double, "
        f"session_id long, session_pos long, "
        f"{numeric_col}_bf double, roll_mean_{numeric_col} double, "
        f"wc array<double>"
    )
    gap_us = gap_seconds * 1_000_000

    def kern(ev: pd.DataFrame, sn: pd.DataFrame) -> pd.DataFrame:
        if len(ev) == 0:
            return pd.DataFrame(
                columns=[f.strip().split(" ")[0] for f in out_schema.split(",")]
            )
        ev = ev.sort_values([ts, *tb], kind="stable").reset_index(drop=True)
        ts_us = ev[ts].to_numpy().astype("datetime64[us]").astype(np.int64)
        x = ev[numeric_col].to_numpy(dtype=np.float64)
        codes = ev[token_col].map(code).fillna(-1).to_numpy(dtype=np.int64)
        n = len(ev)

        out = pd.DataFrame(
            {
                entity: ev[entity],
                ts: ev[ts],
                **({tiebreak: ev[tiebreak]} if tiebreak else {}),
                numeric_col: ev[numeric_col],
                token_col: ev[token_col],
            }
        )
        # --- as-of (strictly before; latest snapshot_id wins ties) ---
        if len(sn):
            sn = sn.sort_values([snap_ts, snap_id], kind="stable").reset_index(drop=True)
            sts = sn[snap_ts].to_numpy().astype("datetime64[us]").astype(np.int64)
            idx = kernels.asof_indices(ts_us, sts, strict=True)
            matched = idx >= 0
            take = idx.clip(0)
            sid = pd.Series(sn[snap_id].to_numpy(dtype=np.int64)[take], dtype="Int64")
            sid[~matched] = pd.NA
            age = (ts_us - sts[take]) / 1e6
            age[~matched] = np.nan
            out["asof_snapshot_id"] = sid
            out["asof_age_sec"] = age
        else:
            out["asof_snapshot_id"] = pd.array([pd.NA] * n, dtype="Int64")
            out["asof_age_sec"] = np.nan

        # --- lag/lead ---
        lag1 = np.roll(x, 1); lag1[0] = np.nan
        lead1 = np.roll(x, -1); lead1[-1] = np.nan
        out[f"lag1_{numeric_col}"] = lag1
        out[f"lead1_{numeric_col}"] = lead1

        # --- sessionization ---
        sess = kernels.session_ids(ts_us, gap_us)
        out["session_id"] = sess
        # position within session: index - first index of session
        first_idx = np.zeros(n, dtype=np.int64)
        starts = np.flatnonzero(np.diff(sess, prepend=sess[0] - 1) > 0)
        first_idx[starts] = starts
        np.maximum.accumulate(first_idx, out=first_idx)
        out["session_pos"] = np.arange(n) - first_idx

        # --- backfill + rolling mean ---
        out[f"{numeric_col}_bf"] = kernels.forward_fill(x)
        cs = np.nancumsum(np.nan_to_num(x))
        cnt = np.cumsum(~np.isnan(x))
        roll_sum = cs.copy()
        roll_cnt = cnt.astype(np.float64)
        if n > width:
            roll_sum[width:] -= cs[:-width]
            roll_cnt[width:] -= cnt[:-width]
        with np.errstate(invalid="ignore", divide="ignore"):
            out[f"roll_mean_{numeric_col}"] = np.where(
                roll_cnt > 0, roll_sum / roll_cnt, np.nan
            )

        # --- trailing window composition (EAAC analogue) ---
        wc = kernels.rolling_token_counts(codes, V, width)
        out["wc"] = list(wc)
        return out

    ev = events.select(entity, ts, *tb, numeric_col, token_col)
    sn = snapshots.select(entity, snap_ts, snap_id)
    return ev.groupBy(entity).cogroup(sn.groupBy(entity)).applyInPandas(kern, out_schema)


class PitLayout:
    """Column layout and Arrow boundary shared by the two cogroup kernels
    (``pit_features_bucketed`` and the salted path in
    spark_pit.operators.skew): the kernel input columns, the output schema,
    the pandas decode/assemble steps around ``kernels.segment_features``
    and the final JVM projection.

    ``tiebreak`` may be one dedicated column (emitted in the output, e.g.
    event_id) or a LIST of columns already among the kernel inputs
    (numeric/token/passthrough). The list form gives a fully deterministic
    sort without materializing a row_number() uid first, which would cost
    a whole extra sort exchange before the kernel. ``passthrough`` columns
    ride through the kernel untouched.
    """

    def __init__(self, events: DataFrame, entity: str, ts: str, numeric_col: str,
                 token_col: str, vocab: list[str], tiebreak=None, passthrough=None):
        if not vocab:
            raise ValueError(
                "vocab is empty: the window composition needs at least one token"
            )
        self.entity, self.ts = entity, ts
        self.numeric_col, self.token_col = numeric_col, token_col
        self.code = {t: i for i, t in enumerate(vocab)}
        self.tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
        self.pt = list(passthrough or [])
        shared = {numeric_col, token_col, *self.pt}
        self.tb_ded = [c for c in self.tb if c not in shared]
        self.wc = [f"__wc{i}" for i in range(len(vocab))]
        # output column -> kernels.segment_features key
        self.feats = {
            "asof_snapshot_id": "asof_snapshot_id", "asof_age_sec": "asof_age_sec",
            f"lag1_{numeric_col}": "lag1", f"lead1_{numeric_col}": "lead1",
            "session_id": "session_id", "session_pos": "session_pos",
            f"{numeric_col}_bf": "bf", f"roll_mean_{numeric_col}": "roll_mean",
        }
        self.inputs = [entity, ts, *self.tb_ded, numeric_col, token_col, *self.pt]
        self.head = [entity, ts, *self.tb_ded, numeric_col, token_col]

        def typ(c):
            return events.schema[c].dataType.simpleString()

        # the kernel emits the window composition as V separate double
        # columns (zero-copy columnar Arrow); the caller-visible
        # array<double> is assembled JVM-side in ``project``. A pandas
        # object column of per-row ndarrays converts to an Arrow list per
        # ELEMENT — at 64M rows that conversion dominated the kernel stage.
        self.schema = ", ".join([
            f"{entity} {typ(entity)}", f"{ts} timestamp_ntz",
            *[f"{c} {typ(c)}" for c in self.tb_ded],
            f"{numeric_col} double", f"{token_col} string",
            "asof_snapshot_id long", "asof_age_sec double",
            f"lag1_{numeric_col} double", f"lead1_{numeric_col} double",
            "session_id long", "session_pos long",
            f"{numeric_col}_bf double", f"roll_mean_{numeric_col} double",
            *[f"{c} double" for c in self.wc],
            *[f"{c} {typ(c)}" for c in self.pt],
        ])

    def empty(self) -> pd.DataFrame:
        return pd.DataFrame(columns=[*self.head, *self.feats, *self.wc, *self.pt])

    def codes(self, tokens) -> np.ndarray:
        """Token codes, -1 for out-of-vocab and null tokens."""
        return pd.Series(tokens, dtype=object).map(self.code).fillna(-1).to_numpy(np.int64)

    def tiebreak_keys(self, pdf: pd.DataFrame) -> list[np.ndarray]:
        """``np.lexsort`` keys for the tiebreak columns, least significant
        first. String columns are factorized to order-preserving codes so
        the sort never compares Python objects (~1.7x kernel wall on
        string-keyed input); nulls sort LAST in every column. The salted
        path sorts its chunk summaries with the same keys."""
        keys = []
        for c in reversed(self.tb):
            col = pdf[c]
            if col.dtype == object:
                codes, uniq = pd.factorize(col, sort=True)
                keys.append(np.where(codes < 0, len(uniq), codes))
            else:
                keys.append(col.to_numpy())
        return keys

    def frame(self, src: pd.DataFrame, f: dict) -> pd.DataFrame:
        """Kernel output: the sorted source rows ``src`` plus the
        ``kernels.segment_features`` columns ``f``."""
        src = src.reset_index(drop=True)
        out = pd.DataFrame({c: src[c] for c in self.head})
        for name, key in self.feats.items():
            out[name] = f[key]
        # int64 values under a null mask: ids above 2^53 stay exact
        out["asof_snapshot_id"] = pd.arrays.IntegerArray(
            f["asof_snapshot_id"], ~f["asof_matched"]
        )
        for i, c in enumerate(self.wc):
            out[c] = f["wc"][:, i]
        for c in self.pt:
            out[c] = src[c]
        return out

    def project(self, flat: DataFrame) -> DataFrame:
        """Reassemble the ``wc`` array<double> contract from the kernel's
        flat columns."""
        return flat.select(
            *self.head, *self.feats,
            F.array(*[F.col(c) for c in self.wc]).alias("wc"), *self.pt,
        )


def to_us(series: pd.Series) -> np.ndarray:
    return series.to_numpy().astype("datetime64[us]").astype(np.int64)


def pit_features_bucketed(
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
    tiebreak: str | list[str] | None = None,
    num_buckets: int = 256,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """pit_features_cursor semantics at bucket granularity: entities are
    hashed into ``num_buckets`` groups (``pmod(xxhash64(entity), B)``) and
    each task processes a whole bucket with **segment-vectorized** NumPy —
    zero per-entity Python. This is the production path:

    - per-group overhead (Arrow batch, pandas construction, Python dispatch)
      is paid B times instead of once per entity — at sf0.1 that is 256
      batches instead of ~60k, a ~10x wall-clock win measured by bench.py;
    - task count is bounded and uniform (hash buckets), the right shape for
      a 1000-executor cluster; hot entities go through
      spark_pit.operators.skew instead.

    Each entity is one segment of ``kernels.segment_features``: rows sort
    by (entity, ts, tiebreak) inside the bucket and every feature is a
    cumulative-array expression clipped at the entity's first row.
    Equivalence with the per-entity cursor is asserted in tests.
    """
    lay = PitLayout(events, entity, ts, numeric_col, token_col, vocab, tiebreak, passthrough)
    gap_us = gap_seconds * 1_000_000

    def kern(ev: pd.DataFrame, sn: pd.DataFrame) -> pd.DataFrame:
        if len(ev) == 0:
            return lay.empty()
        n = len(ev)
        ent, _ = pd.factorize(np.concatenate([ev[entity].to_numpy(), sn["__se"].to_numpy()]))
        seg, t = ent[:n], to_us(ev[ts])
        order = np.lexsort((*lay.tiebreak_keys(ev), t, seg))
        f = kernels.segment_features(
            seg[order], t[order], ev[numeric_col].to_numpy(np.float64)[order],
            lay.codes(ev[token_col])[order], len(lay.wc), width, gap_us,
            ent[n:], to_us(sn[snap_ts]), sn[snap_id].to_numpy(np.int64),
        )
        return lay.frame(ev.iloc[order], f)

    def bucket(c: str):
        return F.pmod(F.xxhash64(F.col(c)), F.lit(num_buckets)).cast("int")

    ev = events.select(*lay.inputs).withColumn("__b", bucket(entity))
    sn = snapshots.select(
        F.col(entity).alias("__se"), F.col(snap_ts), F.col(snap_id)
    ).withColumn("__b", bucket("__se"))
    return lay.project(
        ev.groupBy("__b").cogroup(sn.groupBy("__b")).applyInPandas(kern, lay.schema)
    )


def pit_features_declarative(
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
    tiebreak: str | None = None,
) -> DataFrame:
    """Same columns as pit_features_cursor, built from the declarative
    operator library (window functions + union-based as-of). Used as the
    in-engine cross-check and the DuckDB-oracle side."""
    ev = events.select(entity, ts, *([tiebreak] if tiebreak else []), numeric_col, token_col)
    df = asof_join_window(
        ev, snapshots, [entity], ts, snap_ts, [snap_id],
        strict=True, prefix="asof_", right_order=snap_id,
    )
    def _us(c: str):
        # TIMESTAMP_NTZ → epoch micros; session tz is UTC so NTZ↔LTZ is identity
        return F.unix_micros(F.col(c).cast("timestamp_ltz"))

    df = df.withColumn(
        "asof_age_sec", (_us(ts) - _us("asof_ts")) / F.lit(1e6)
    ).withColumnRenamed(f"asof_{snap_id}", "asof_snapshot_id").drop("asof_ts")
    df = windows.with_lag_lead(df, entity, ts, [numeric_col], [1], tiebreak)
    df = windows.with_session_id(df, entity, ts, gap_seconds, tiebreak)
    w = windows.entity_window(entity, ts, tiebreak)
    sess_w = windows.entity_window(entity, ts, tiebreak).partitionBy(entity, "session_id")
    df = df.withColumn("session_pos", F.row_number().over(sess_w) - 1)
    df = windows.with_backfill(df, entity, ts, [numeric_col], tiebreak)
    roll = w.rowsBetween(-(width - 1), 0)
    df = df.withColumn(f"roll_mean_{numeric_col}", F.avg(numeric_col).over(roll))
    size = F.count(F.lit(1)).over(roll)
    df = df.withColumn(
        "wc",
        F.array(*[
            (F.sum(F.when(F.col(token_col) == t, 1).otherwise(0)).over(roll) / size)
            for t in vocab
        ]),
    )
    return df.select(
        entity, ts, *([tiebreak] if tiebreak else []), numeric_col, token_col,
        "asof_snapshot_id", "asof_age_sec",
        f"lag1_{numeric_col}", f"lead1_{numeric_col}",
        "session_id", "session_pos",
        f"{numeric_col}_bf", f"roll_mean_{numeric_col}", "wc",
    )
