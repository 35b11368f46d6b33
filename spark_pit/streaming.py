"""Structured Streaming surface: streaming twins of the batch operators.

The reference is batch-only (SURVEY.md §1.3: "no streaming"). This module
has eight streaming operators, most of them the twin of a batch operator:

- ``streaming_session_stats`` — gap-based session windows via the built-in
  ``F.session_window`` (watermark-driven state eviction); the twin of
  ``operators.windows.with_session_id``.
- ``streaming_dedup`` and ``streaming_content_dedup`` — watermarked
  first-arrival dedup on key columns or on a hash of the text, held in the
  JVM state store.
- Five custom stateful operators on ``applyInPandasWithState`` (one
  pandas kernel per entity group, bounded state per entity):
  ``streaming_pit_features`` (the fused PIT features of
  ``pit.pit_features_bucketed``, computed by the same
  ``kernels.segment_features`` with the carries held in group state),
  ``streaming_decayed_features``, ``streaming_target_encode``,
  ``streaming_scd2`` and ``streaming_funnel`` (twins of ``windows``'
  ``decayed_features``, ``target_encode_pit``, ``scd2_intervals`` and
  ``funnel_steps``).

``run_available_now`` drains a streaming frame with
``Trigger.AvailableNow`` into a batch frame and cleans up after itself;
the stream-vs-batch parity queries and tests/test_streaming.py compare
its output with the batch operators over the same parquet tables.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_pit import kernels
from spark_pit.operators.pit import PitLayout, to_us


def _whole_group(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Yield a group's micro-batch as ONE DataFrame (or nothing if empty).

    applyInPandasWithState hands a group over as MULTIPLE Arrow chunks
    (spark.sql.execution.arrow.maxRecordsPerBatch, ~10k rows) in POST-
    SHUFFLE ARRIVAL order — not event-time order. Every stateful kernel
    here documents "within a micro-batch rows are sorted by (ts,
    tiebreak)"; sorting each chunk separately while carrying intra-batch
    state chunk-to-chunk silently breaks that contract as soon as a
    group exceeds one chunk per micro-batch (~10k rows/group) — a
    ≥10M-row scale bug invisible at gate scale, caught by the round-6
    streaming endurance protocol (10M events: stream != batch with
    per-chunk sorts; bit-identical after this fix). Concatenating makes
    the documented single sort real; memory is O(group rows in the
    micro-batch) — the inherent cost of a correct within-batch sort —
    while cross-batch state stays O(1)/O(k) per group."""
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        yield chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )


def streaming_session_stats(
    events: DataFrame,
    entity: str,
    ts: str,
    value_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per (entity, session window): event count + value sum. Late rows
    beyond the watermark are dropped (the batch engine instead enforces
    correctness via the as-of inequality; streams need watermarks)."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(entity), F.session_window(F.col(ts), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("session_value"),
        )
        .select(
            entity,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_pit_features(
    tagged: DataFrame,
    entity: str,
    ts: str,
    numeric_col: str,
    token_col: str,
    vocab: list[str],
    snap_id: str = "snapshot_id",
    is_snap: str = "is_snap",
    gap_seconds: int = 1800,
    width: int = 5,
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """The fused PIT features of ``pit.pit_features_bucketed`` on a stream.

    Input is ONE tagged stream keyed by entity: events and snapshots
    together, ``is_snap`` marking the snapshot rows and ``snap_id`` their
    ids. Each micro-batch of an entity is one time chunk of its timeline,
    so ``kernels.segment_features`` computes its events' features exactly
    as the salted path computes a chunk's: the carries come from
    ``GroupState`` and the carried tail rows ride ahead of the batch as
    ``margin`` rows. The output goes through the same ``PitLayout``, so its
    columns are the batch kernel's, minus ``lead1_<numeric_col>``: an
    event's lead needs the next event, which a later micro-batch may hold.

    The state per entity is O(width): the kernel's ``last_sess``,
    ``open_run`` and ``bf_seed``; the last ``max(width - 1, 1)`` rows (µs,
    value, token code); and two snapshots, the latest (the largest id wins
    a ts tie) and the latest with a strictly earlier ts. An event of a
    later micro-batch at the latest snapshot's ts must skip it and match
    the one before.

    Correctness regime: per-entity arrival ordered by (ts, tiebreak) across
    micro-batches (file sources over time-ordered files); within a batch
    any order is fine."""
    lay = PitLayout(tagged, entity, ts, numeric_col, token_col, vocab, tiebreak)
    gap_us, keep = gap_seconds * 1_000_000, max(width - 1, 1)
    state_schema = (
        "last_sess long, open_run long, bf_seed double, tail_ts array<long>, "
        "tail_x array<double>, tail_code array<long>, snap_ts array<long>, "
        "snap_id array<long>"
    )
    dtypes = (np.int64, np.float64, np.int64, np.int64, np.int64)

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_sess, open_run, bf_seed, *arrays = state.get
        else:
            last_sess, open_run, bf_seed, arrays = -1, 0, np.nan, [[]] * 5
        m_t, m_x, m_c, s_t, s_i = (np.asarray(a, d) for a, d in zip(arrays, dtypes))
        for pdf in _whole_group(pdfs):
            snap = pdf[is_snap].to_numpy(bool)
            sn, ev = pdf[snap], pdf[~snap]
            s_t = np.concatenate([s_t, to_us(sn[ts])])
            s_i = np.concatenate([s_i, sn[snap_id].to_numpy(np.int64)])
            if len(ev):
                t = to_us(ev[ts])
                order = np.lexsort((*lay.tiebreak_keys(ev), t))
                t = np.concatenate([m_t, t[order]])
                x = np.concatenate([m_x, ev[numeric_col].to_numpy(np.float64)[order]])
                c = np.concatenate([m_c, lay.codes(ev[token_col])[order]])
                f = kernels.segment_features(
                    np.zeros(len(t), np.int64), t, x, c, len(lay.wc), width, gap_us,
                    np.zeros(len(s_t), np.int64), s_t, s_i,
                    last_sess=np.array([last_sess]), open_run=np.array([open_run]),
                    bf_seed=np.array([bf_seed]), margin=np.arange(len(t)) < len(m_t),
                )
                yield lay.frame(ev.iloc[order], f)
                last_sess, open_run = f["session_id"][-1], f["session_pos"][-1] + 1
                bf_seed = f["bf"][-1]
                m_t, m_x, m_c = t[-keep:], x[-keep:], c[-keep:]
            if len(s_t):
                o = np.lexsort((s_i, s_t))
                s_t, s_i = s_t[o], s_i[o]
                prev = np.searchsorted(s_t, s_t[-1]) - 1
                pick = [prev, len(s_t) - 1] if prev >= 0 else [len(s_t) - 1]
                s_t, s_i = s_t[pick], s_i[pick]
        state.update((
            int(last_sess), int(open_run), float(bf_seed),
            *(a.tolist() for a in (m_t, m_x, m_c, s_t, s_i)),
        ))

    # events carry a null id, and pandas holds a nullable long as float64,
    # which would round ids above 2^53
    ids = tagged.withColumn(snap_id, F.coalesce(F.col(snap_id), F.lit(0)))
    return lay.project(
        ids.groupBy(entity).applyInPandasWithState(
            fn, lay.schema, state_schema, "Update", GroupStateTimeout.NoTimeout
        )
    ).drop(f"lead1_{numeric_col}")


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the stream twin of operators.dedup
    (reference pipelines dedup per batch; a feed needs bounded state):
    first row per key wins, duplicate-key state is evicted once the event
    time falls behind the watermark, so state is O(distinct keys per
    watermark window) instead of O(stream). Built on the native
    ``dropDuplicatesWithinWatermark`` operator (JVM state store — no
    Python in the loop)."""
    return events.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_content_dedup(
    docs: DataFrame,
    text_col: str,
    ts: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Content-hash streaming dedup for document feeds: key the stream by
    ``xxhash64(text)`` (the streaming analogue of dedup.dedup_exact's
    canonical content hash) and keep the first arrival per hash inside the
    watermark. The 64-bit hash keeps per-key state to 8 bytes — the
    trade documented for the batch path (dedup.py) holds on streams."""
    hashed = docs.withColumn("__content_hash", F.xxhash64(F.col(text_col)))
    return (
        hashed.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["__content_hash"])
        .drop("__content_hash")
    )


def streaming_decayed_features(
    events: DataFrame,
    entity: str,
    ts: str,
    value_col: str,
    halflife_s: int = 3600,
    max_lag: int = 20,
) -> DataFrame:
    """Streaming twin of operators/windows.decayed_features: per entity
    the state carries ONLY the trailing ``max_lag`` half-life bucket
    aggregates (bucket ids + per-bucket count/sum arrays — O(max_lag)
    per entity, watermark-free bounded state), and each event's
    decayed_count/decayed_sum over strictly-earlier buckets is emitted
    as the micro-batch flows through. Weights are powers of two, so the
    streaming sums are bit-identical to the batch operator's (the parity
    query pins the diff to zero).

    Correctness regime: ordered arrival (Trigger.AvailableNow over
    ts-ordered files — same documented regime as
    streaming_pit_features); an event older than an already-closed
    bucket would need the batch operator's global view.
    """
    period_us = int(halflife_s) * 1_000_000
    ent_type = events.schema[entity].dataType.simpleString()
    ts_type = events.schema[ts].dataType.simpleString()
    id_cols = [f.name for f in events.schema.fields if f.name not in (entity, ts, value_col)]
    id_decl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in events.schema.fields if f.name in id_cols
    )
    out_schema = (
        f"{entity} {ent_type}, {ts} {ts_type}{id_decl}, "
        "decayed_count double, decayed_sum double"
    )
    state_schema = "bk array<long>, ns array<long>, vs array<double>"

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            bk, ns, vs = (np.asarray(a) for a in state.get)
            bk = bk.astype("int64"); ns = ns.astype("int64")
            vs = vs.astype("float64")
        else:
            bk = np.empty(0, "int64"); ns = np.empty(0, "int64")
            vs = np.empty(0, "float64")
        for pdf in _whole_group(pdfs):
            pdf = pdf.sort_values(ts, kind="stable")
            t_us = pdf[ts].to_numpy().astype("datetime64[us]").astype("int64")
            pdf = pdf.assign(__b=t_us // period_us)
            outs = []
            # per distinct bucket ascending: features from state, then fold
            # the bucket's own aggregate into state
            for b, grp in pdf.groupby("__b", sort=True):
                d = b - bk
                live = (d >= 1) & (d <= max_lag)
                w = np.power(0.5, d[live].astype("float64"))
                dc = float((ns[live] * w).sum())
                ds = float((vs[live] * w).sum())
                out = grp[[entity, ts, *id_cols]].copy()
                out["decayed_count"] = dc
                out["decayed_sum"] = ds
                outs.append(out)
                v = grp[value_col].to_numpy(dtype="float64")
                if b in bk:
                    i = int(np.searchsorted(bk, b))
                    ns[i] += len(grp)
                    vs[i] += float(np.nansum(v))
                else:
                    i = int(np.searchsorted(bk, b))
                    bk = np.insert(bk, i, b)
                    ns = np.insert(ns, i, len(grp))
                    vs = np.insert(vs, i, float(np.nansum(v)))
                keep = (bk[-1] - bk) < max_lag + 1 if len(bk) else slice(None)
                bk, ns, vs = bk[keep], ns[keep], vs[keep]
            if outs:
                yield pd.concat(outs, ignore_index=True)
        state.update((bk.tolist(), ns.tolist(), vs.tolist()))

    return events.groupBy(entity).applyInPandasWithState(
        fn, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
    )


def streaming_target_encode(
    events: DataFrame,
    category: str,
    ts: str,
    target_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming twin of operators/windows.target_encode_pit (the
    leakage-free expanding categorical target encoder): per CATEGORY the
    state carries exactly (count, exact micro-unit running sum) — the
    (count, decimal-sum) pair, with the decimal(38,6) sum held as an
    arbitrary-precision integer of 1e-6 units serialized to a string, so
    the state is two scalars per category and NEVER loses exactness,
    however large the sum grows (the batch operator's decimal(38,6)
    discipline, unbounded).

    Each event is emitted with ``te_count`` (strictly-earlier same-
    category rows) and ``te_sum_str`` (the exact running sum BEFORE this
    row, formatted as a scale-6 decimal string identical to Spark's
    decimal(38,6)→string cast; null when te_count=0) — so the parity
    query can pin stream==batch with zero tolerance and te_mean derives
    engine-side from (count, sum) identically on both sides.

    Exactness regime (documented, enforced by the parity query's input
    prep): targets must be exactly representable at 6 decimal places
    with |target·1e6| < 2^53 (e.g. eighth-quantized doubles), so the
    one float op here — rint(target·1e6) — is exact and the running sum
    is pure integer arithmetic. Ordered arrival (Trigger.AvailableNow
    over ts-ordered input, same regime as streaming_decayed_features);
    within a micro-batch rows are sorted by (ts, tiebreak) to match the
    batch operator's window order.
    """
    cat_type = events.schema[category].dataType.simpleString()
    ts_type = events.schema[ts].dataType.simpleString()
    id_cols = [
        f.name for f in events.schema.fields
        if f.name not in (category, ts, target_col)
    ]
    id_decl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in events.schema.fields if f.name in id_cols
    )
    out_schema = (
        f"{category} {cat_type}, {ts} {ts_type}{id_decl}, "
        "te_count long, te_sum_str string"
    )
    state_schema = "cnt long, sum_us string"

    def _dec6(us: int) -> str:
        sign = "-" if us < 0 else ""
        a = abs(int(us))
        return f"{sign}{a // 1_000_000}.{a % 1_000_000:06d}"

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            cnt, sum_s = state.get
            cnt, total = int(cnt), int(sum_s)
        else:
            cnt, total = 0, 0
        order = [ts] + ([tiebreak] if tiebreak else [])
        for pdf in _whole_group(pdfs):
            pdf = pdf.sort_values(order, kind="stable")
            v = pdf[target_col].to_numpy(dtype="float64")
            us = np.rint(v * 1e6).astype("int64")
            # exclusive prefix sum = running sum BEFORE each row.
            # Exactness is the contract, int64 just the fast path: if this
            # single batch's cumsum could itself exceed int64 (conservative
            # bound n*max|x|), compute it in object dtype (Python ints) so
            # it never silently wraps — the carried-total guard below only
            # covers the ADDITION of `total`, not intra-batch overflow.
            mx = int(np.abs(us).max(initial=0))
            if len(us) * mx >= (1 << 62):
                csum = np.cumsum(us.astype(object))
            else:
                csum = np.cumsum(us)
            prefix = np.concatenate(([0], csum[:-1]))
            if abs(total) >= (1 << 62) - abs(prefix).max(initial=0):
                prefix = prefix.astype(object)
            run = prefix + total
            te_count = cnt + np.arange(len(pdf), dtype="int64")
            out = pdf[[category, ts, *id_cols]].copy()
            out["te_count"] = te_count
            out["te_sum_str"] = [
                _dec6(s) if c > 0 else None
                for c, s in zip(te_count, run)
            ]
            yield out
            cnt += len(pdf)
            # object-dtype sum: exact beyond int64, O(batch) driver-free
            total += int(us.astype(object).sum())
        state.update((cnt, str(total)))

    return events.groupBy(category).applyInPandasWithState(
        fn, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
    )


def streaming_scd2(
    events: DataFrame,
    entity: str,
    ts: str,
    attr_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming twin of operators/windows.scd2_intervals: per ENTITY the
    state carries only the OPEN version row (run-start µs + current attr
    values — O(1) per entity), and a CLOSED validity interval is emitted
    the moment a change event arrives. The output is exactly the batch
    operator's closed rows (is_current=false); the open tail lives in
    state until its closing change arrives — so the parity query pins
    stream ⊆ batch with n_only_stream = 0, value diffs = 0, and
    n_only_batch = one open row per entity.

    Ordered arrival (Trigger.AvailableNow over ts-ordered input, the
    module's documented regime); within a micro-batch rows sort by
    (ts, tiebreak). Null-safe attr compare (NaN/None == NaN/None), the
    batch operator's eqNullSafe."""
    ent_type = events.schema[entity].dataType.simpleString()
    # Declared in attr_cols order (NOT schema field order): the state tuple
    # is written/read positionally as (run_start, *cur) with cur in
    # attr_cols order, so the state schema must share that order or a
    # multi-attr caller gets values swapped across micro-batch boundaries.
    attr_decl = ", ".join(
        f"{c} {events.schema[c].dataType.simpleString()}" for c in attr_cols
    )
    out_schema = (
        f"{entity} {ent_type}, {attr_decl}, "
        "valid_from_us long, valid_to_us long"
    )
    state_schema = f"run_start_us long, {attr_decl}"

    def _same(a, b) -> bool:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
        return a == b

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            run_start, cur = int(st[0]), list(st[1:])
        else:
            run_start, cur = None, None
        order = [ts] + ([tiebreak] if tiebreak else [])
        ent = key[0]
        for pdf in _whole_group(pdfs):
            pdf = pdf.sort_values(order, kind="stable")
            t_us = pdf[ts].to_numpy().astype("datetime64[us]").astype("int64")
            closed = []
            for i, row in enumerate(pdf[attr_cols].itertuples(index=False)):
                vals = list(row)
                if cur is None:
                    run_start, cur = int(t_us[i]), vals
                elif not all(_same(a, b) for a, b in zip(cur, vals)):
                    closed.append((run_start, int(t_us[i]), cur))
                    run_start, cur = int(t_us[i]), vals
            if closed:
                yield pd.DataFrame(
                    {
                        entity: [ent] * len(closed),
                        **{
                            c: [vals[j] for _, _, vals in closed]
                            for j, c in enumerate(attr_cols)
                        },
                        "valid_from_us": [f for f, _, _ in closed],
                        "valid_to_us": [t for _, t, _ in closed],
                    }
                )
        if cur is not None:
            state.update((run_start, *cur))

    return events.groupBy(entity).applyInPandasWithState(
        fn, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
    )


def streaming_funnel(
    events: DataFrame,
    entity: str,
    ts: str,
    step_col: str,
    steps: list[str],
    within_s: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming twin of operators/windows.funnel_steps: per entity the
    state is the K-slot chain of step timestamps (µs, -1 = unset) —
    O(K) per entity. Under ordered arrival the first qualifying event
    per slot IS the earliest one (set-once), so the incremental chain
    equals the batch operator's earliest-strictly-after semantics
    exactly. Each micro-batch emits the entity's current chain (depth
    monotonic, timestamps immutable once set), so the latest row per
    entity equals the batch result — the parity query folds the sink
    with per-column max, which is exact because every column is
    set-once/monotonic."""
    ent_type = events.schema[entity].dataType.simpleString()
    k_steps = len(steps)
    cols = [f"step{k}_ts_us" for k in range(k_steps)]
    out_schema = (
        f"{entity} {ent_type}, "
        + ", ".join(f"{c} long" for c in cols)
        + ", funnel_depth int, completed boolean"
    )
    state_schema = ", ".join(f"t{k} long" for k in range(k_steps))
    step_idx = {s: k for k, s in enumerate(steps)}
    win_us = int(within_s) * 1_000_000 if within_s is not None else None

    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        t = list(state.get) if state.exists else [-1] * k_steps
        order = [ts] + ([tiebreak] if tiebreak else [])
        ent = key[0]
        touched = False
        for pdf in _whole_group(pdfs):
            pdf = pdf.sort_values(order, kind="stable")
            t_us = pdf[ts].to_numpy().astype("datetime64[us]").astype("int64")
            for s, tu in zip(pdf[step_col].to_numpy(), t_us):
                k = step_idx.get(s)
                if k is None or t[k] != -1:
                    continue
                if k == 0:
                    t[0] = int(tu)
                    touched = True
                elif t[k - 1] != -1 and tu > t[k - 1]:
                    t[k] = int(tu)
                    touched = True
        if t[0] != -1 and (touched or not state.exists):
            depth = 0
            for v in t:
                if v == -1:
                    break
                depth += 1
            done = t[-1] != -1
            if done and win_us is not None:
                done = (t[-1] - t[0]) <= win_us
            yield pd.DataFrame(
                {
                    entity: [ent],
                    **{c: [t[k] if t[k] != -1 else None] for k, c in enumerate(cols)},
                    "funnel_depth": [depth],
                    "completed": [done],
                }
            )
        state.update(tuple(t))

    return events.groupBy(entity).applyInPandasWithState(
        fn, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
    )


def run_available_now(df: DataFrame, output_mode: str) -> DataFrame:
    """Drain streaming ``df`` with ``Trigger.AvailableNow`` into a memory
    sink and return the sink's rows as a batch frame (``localCheckpoint``).

    The sink gets a unique name and its own checkpoint directory. Whatever
    happens (success, timeout, stream failure), the query is stopped, the
    sink's temp view dropped and the checkpoint removed, so no sink (and
    its copy of the stream's rows in driver memory) outlives the call.

    A timeout FAILS LOUDLY. The parity twins compare the sink against the
    batch operator; if ``awaitTermination`` times out the sink is partial
    (or empty) and the comparison would report a bogus value mismatch —
    exactly what happened at the 10M-row scale tier, where the fixed
    300 s budget was not enough under load (the gate recorded
    n_only_batch = 10,000,000, i.e. "stream produced nothing", for a
    query that passes at every smaller sf). A timeout is a harness
    artifact, not an operator result, so it must surface as an ERROR,
    never as a plausible-looking diff count. SPARK_PIT_STREAM_TIMEOUT
    raises the budget for scale-tier runs."""
    spark = df.sparkSession
    name = f"sink_{uuid.uuid4().hex}"
    ck = tempfile.mkdtemp(prefix="ck_")
    query = None
    try:
        query = (
            df.writeStream.format("memory").queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        timeout = int(os.environ.get("SPARK_PIT_STREAM_TIMEOUT", "300"))
        if not query.awaitTermination(timeout):
            raise RuntimeError(
                f"streaming query did not finish within {timeout}s; raise "
                "SPARK_PIT_STREAM_TIMEOUT for scale-tier runs"
            )
        return spark.table(name).localCheckpoint()
    finally:
        if query is not None:
            query.stop()
        spark.catalog.dropTempView(name)
        shutil.rmtree(ck, ignore_errors=True)
