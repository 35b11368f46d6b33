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

One independent reference builds the same columns:
``pit_features_declarative``, from the window and as-of operator library,
which shares no code with the NumPy kernel. Tests assert the production
paths equal it; the DuckDB oracle checks the production paths themselves
(queries ``pit_fused``, bucketed, and ``pit_salted``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit import kernels
from spark_pit.operators import windows
from spark_pit.operators.asof import asof_join_window
from spark_pit.util import ts_us


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
    """The fused PIT features at bucket granularity: entities are hashed
    into ``num_buckets`` groups (``pmod(xxhash64(entity), B)``) and each
    task processes a whole bucket with **segment-vectorized** NumPy —
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
    Equivalence with pit_features_declarative is asserted in tests.
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
    """Same columns as pit_features_bucketed, built from the declarative
    operator library (window functions + union-based as-of). The
    in-engine reference the production paths are tested against."""
    ev = events.select(entity, ts, *([tiebreak] if tiebreak else []), numeric_col, token_col)
    df = asof_join_window(
        ev, snapshots, [entity], ts, snap_ts, [snap_id],
        strict=True, prefix="asof_", right_order=snap_id,
    )
    df = df.withColumn(
        "asof_age_sec", (ts_us(ts) - ts_us("asof_ts")) / F.lit(1e6)
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
