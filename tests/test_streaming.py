"""Structured Streaming surface: session windows, the streaming PIT
operator and the other stateful operators over file sources with
Trigger.AvailableNow, compared against batch."""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from conftest import BIG_ID, assert_same_pit, exact_ids
from pyspark.sql import functions as F

from spark_pit.catalog import iceberg_available, read_table
from spark_pit.streaming import (
    run_available_now,
    streaming_pit_features,
    streaming_session_stats,
)


def _stream_table(spark, sf_dir, table):
    """One sf table as a file stream. The glob matches that file alone; the
    bare directory would scan every sibling table too."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return spark.readStream.schema(schema).parquet(f"{sf_dir}/{table}*.parquet")


def _stream_events(spark, sf_dir):
    return (
        _stream_table(spark, sf_dir, "events")
        .where(F.col("event_id").isNotNull())
        .select("user_id", F.col("ts").cast("timestamp_ltz").alias("ts"), "value", "event_id")
    )


def test_streaming_session_stats_matches_batch(spark, sf_dir):
    # stream side (append mode emits only watermark-closed sessions; with
    # AvailableNow over finite data the final watermark closes everything
    # except the tail sessions — compare on the common set)
    stream = streaming_session_stats(
        _stream_events(spark, sf_dir), "user_id", "ts", "value", gap="30 minutes"
    )
    got = run_available_now(stream, "append").toPandas()
    assert len(got) > 0
    # batch twin
    from spark_pit.operators.windows import with_session_id

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp_ltz").alias("ts"), "value", "event_id"
    )
    batch = (
        with_session_id(ev, "user_id", "ts", 1800, tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    bkey = {(r.user_id, r.n_events) for r in batch.itertuples()}
    # every streamed session must exist in the batch result with same size
    matched = sum(1 for r in got.itertuples() if (r.user_id, r.n_events) in bkey)
    assert matched >= 0.9 * len(got)


VOCAB = ["click", "error", "purchase", "signup", "view"]
TAGGED = (
    "user_id long, ts timestamp_ntz, event_id long, value double, "
    "event_type string, is_snap boolean, snapshot_id long"
)


def _pit_stream(spark, src_dir, **kw):
    """``streaming_pit_features`` over the parquet subdirectories ``b*`` of
    ``src_dir``, one file per micro-batch, drained into a batch frame."""
    path = str(src_dir / "b*")
    src = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_pit_features(
        src, "user_id", "ts", "value", "event_type", VOCAB, tiebreak="event_id", **kw
    )
    return run_available_now(out, "update")


def _write_files(spark, src_dir, pdfs, schema=TAGGED):
    """One parquet file per frame, written in order, so the file source
    takes them in that order."""
    for k, pdf in enumerate(pdfs):
        spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(str(src_dir / f"b{k}"))


def _tagged(events: pd.DataFrame, snaps: pd.DataFrame) -> pd.DataFrame:
    """Events and (user_id, ts, snapshot_id) snapshots as one tagged frame,
    sorted by (ts, event_id): the arrival order the operator needs."""
    sn = snaps.assign(event_id=-1, value=np.nan, event_type=None, is_snap=True)
    both = pd.concat([events.assign(is_snap=False, snapshot_id=None), sn], ignore_index=True)
    both["snapshot_id"] = both["snapshot_id"].astype("Int64")
    cols = ["user_id", "ts", "event_id", "value", "event_type", "is_snap", "snapshot_id"]
    return both[cols].sort_values(["ts", "event_id"], kind="stable").reset_index(drop=True)


def _crossing_1970(seed=3) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Three entities whose timelines cross 1970-01-01, with ts ties, null
    values, null and out-of-vocab tokens, session gaps of exactly 1800 s
    and 1801 s, and snapshots at event times."""
    rng = np.random.default_rng(seed)
    rows = []
    for u in (-1, -2, -3):
        t = pd.Timestamp("1969-12-31 20:00:00") + pd.Timedelta(seconds=int(u) * 7)
        for _ in range(60):
            t += pd.Timedelta(seconds=int(rng.choice([0, 1, 5, 600, 1800, 1801, 9000])))
            tok = rng.choice(VOCAB + ["oov", None])
            val = float(rng.normal()) if rng.random() > 0.25 else np.nan
            rows.append((u, t, val, tok))
    ev = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_type"])
    ev["event_id"] = 10**6 + np.arange(len(ev))
    sn = ev.sample(frac=0.2, random_state=seed)[["user_id", "ts"]]
    sn["snapshot_id"] = 10**6 + np.arange(len(sn))
    return ev, sn


def test_streaming_pit_equals_declarative(spark, sf_dir, tmp_path):
    """The streaming PIT operator equals ``pit_features_declarative`` on
    every column it emits (rtol/atol 1e-12, snapshot ids exact), with its
    carries crossing six micro-batches: sf0.001 events (purchases double
    as snapshots, plus a 2^53+1 twin of the first) in four time-ordered
    files behind two files of entities that cross 1970, cut inside a ts
    tie of one entity."""
    from spark_pit.operators.pit import pit_features_declarative

    cols = ["user_id", "ts", "event_id", "value", "event_type"]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[cols]
    snaps = ev[ev["event_type"] == "purchase"][["user_id", "ts", "event_id"]]
    snaps = snaps.rename(columns={"event_id": "snapshot_id"})
    # a twin of the first snapshot with an id above 2^53 wins its ts tie
    snaps = pd.concat([snaps, snaps.iloc[:1].assign(snapshot_id=BIG_ID)])
    sf = _tagged(ev, snaps)
    old_ev, old_sn = _crossing_1970()
    old = _tagged(old_ev, old_sn)
    key = old[["user_id", "ts"]]
    tie = np.flatnonzero(key.duplicated(keep="first").to_numpy())
    cut = tie[len(tie) // 2]  # rows cut - 1 and cut share entity and ts
    assert key.iloc[cut].equals(key.iloc[cut - 1])
    _write_files(
        spark, tmp_path,
        [old.iloc[:cut], old.iloc[cut:],
         *(sf.iloc[i] for i in np.array_split(np.arange(len(sf)), 4))],
    )
    got = exact_ids(_pit_stream(spark, tmp_path))

    events = spark.createDataFrame(
        pd.concat([old_ev[cols], ev]),
        "user_id long, ts timestamp_ntz, event_id long, value double, event_type string",
    )
    snapshots = spark.createDataFrame(
        pd.concat([old_sn, snaps]),
        "user_id long, snapshot_ts timestamp_ntz, snapshot_id long",
    )
    want = exact_ids(pit_features_declarative(
        events, snapshots, "user_id", "ts", "value", "event_type", VOCAB,
        tiebreak="event_id",
    ).drop("lead1_value"))
    assert len(got) == len(ev) + len(old_ev)
    assert_same_pit(got, want)


def test_streaming_pit_carries_across_micro_batches(spark, tmp_path):
    """Two files, two micro-batches. Entity 1: snapshot 2^53+1 at 23:59:50
    and snapshot 7 at 23:59:55 arrive first; its event at 23:59:55 must
    skip snapshot 7 (strictly before) and match 2^53+1, which only the
    second carried snapshot holds. Entity 2: events at 1969-12-31 23:00:00,
    23:00:05 and 1970-01-01 00:00:10 continue and then break a session
    across the file boundary."""
    t = pd.Timestamp
    sn = pd.DataFrame({
        "user_id": [1, 1], "ts": [t("1969-12-31 23:59:50"), t("1969-12-31 23:59:55")],
        "snapshot_id": [BIG_ID, 7],
    })
    ev = pd.DataFrame({
        "user_id": [2, 1, 1, 2, 2],
        "ts": [t("1969-12-31 23:00:00"), t("1969-12-31 23:59:55"), t("1970-01-01 00:00:10"),
               t("1969-12-31 23:00:05"), t("1970-01-01 00:00:10")],
        "event_id": [1, 2, 3, 4, 5],
        "value": [1.0, 2.0, 3.0, np.nan, 5.0],
        "event_type": ["view", "click", "view", "view", "oov"],
    })
    tagged = _tagged(ev, sn)
    first = tagged["snapshot_id"].notna() | (tagged["event_id"] == 1)
    _write_files(spark, tmp_path, [tagged[first], tagged[~first]])
    got = exact_ids(_pit_stream(spark, tmp_path)).set_index("event_id").sort_index()
    assert got.loc[2, "asof_snapshot_id"] == str(BIG_ID)
    assert got.loc[2, "asof_age_sec"] == 5.0
    assert got.loc[3, "asof_snapshot_id"] == "7"
    assert got.loc[[1, 4, 5], "session_id"].tolist() == [0, 0, 1]
    assert got.loc[[1, 4, 5], "session_pos"].tolist() == [0, 1, 0]
    assert got.loc[4, "lag1_value"] == 1.0 and got.loc[4, "value_bf"] == 1.0


def test_streaming_asof_matches_batch(spark, sf_dir):
    """The streaming PIT operator's as-of match must reproduce the batch
    strictly-before join exactly, ids compared as exact integers
    (AvailableNow over one file = ordered arrival, the documented
    correctness regime)."""
    from spark_pit.operators.asof import asof_join_window

    raw = (
        _stream_table(spark, sf_dir, "events")
        .where(F.col("event_id").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "user_id",
            F.col("ts").cast("timestamp_ltz").alias("ts"),
            "event_id",
            "value",
            "event_type",
            (F.col("event_type") == "purchase").alias("is_snap"),
            F.when(F.col("event_type") == "purchase", F.col("event_id"))
            .alias("snapshot_id"),
        )
    )
    out = streaming_pit_features(
        raw, "user_id", "ts", "value", "event_type", VOCAB, tiebreak="event_id"
    )
    got = exact_ids(run_available_now(out, "update").select("event_id", "asof_snapshot_id"))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("snapshot_ts"),
        F.col("event_id").alias("snapshot_id"),
    )
    events = ev.where(F.col("event_type") != "purchase").select("event_id", "user_id", "ts")
    want = exact_ids(
        asof_join_window(
            events, snaps, ["user_id"], "ts", "snapshot_ts",
            ["snapshot_id"], strict=True, right_order="snapshot_id",
        ).select("event_id", "asof_snapshot_id")
    )
    # streaming emits only non-snapshot events
    assert len(got) == len(want)
    got = got.sort_values("event_id").reset_index(drop=True)
    want = want.sort_values("event_id").reset_index(drop=True)
    assert got.equals(want)
    assert got["asof_snapshot_id"].notna().any()


def test_catalog_parquet_fallback(spark, sf_dir):
    assert not iceberg_available(spark)
    df = read_table(spark, f"{sf_dir}/events.parquet")
    assert df.count() > 0
    with pytest.raises(ValueError):
        read_table(spark, f"{sf_dir}/events.parquet", snapshot_id=1)


def test_streaming_dedup_drops_replayed_rows(spark, sf_dir):
    """A self-unioned stream (every event delivered twice) dedups back to
    the batch-distinct row set on the event_id key."""
    from spark_pit.streaming import streaming_dedup

    src = _stream_events(spark, sf_dir)
    doubled = src.union(_stream_events(spark, sf_dir))
    out = streaming_dedup(doubled, ["event_id"], "ts", watermark="1 hour")
    got = run_available_now(out, "append").toPandas()
    n_batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id").distinct().count()
    )
    assert len(got) == n_batch
    assert got["event_id"].is_unique


def test_streaming_content_dedup(spark, sf_dir):
    """Same-text rows collapse to one arrival; the helper hash column does
    not leak into the output schema."""
    from spark_pit.streaming import streaming_content_dedup

    docs = (
        _stream_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "text",
                F.lit("2024-01-01 00:00:00").cast("timestamp_ltz").alias("ts"))
    )
    out = streaming_content_dedup(docs, "text", "ts", watermark="1 hour")
    got = run_available_now(out, "append").toPandas()
    n_distinct = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text").distinct().count()
    )
    assert len(got) == n_distinct
    assert set(got.columns) == {"doc_id", "text", "ts"}


def test_streaming_asof_entity_with_no_snapshots(spark, tmp_path):
    """Regression: an entity whose first micro-batch contains events but
    ZERO snapshots (and no carried state) must yield all-NA matches, not
    IndexError on the empty snapshot array. String entity keys round-trip
    unchanged."""
    t = pd.Timestamp
    ev = pd.DataFrame({
        "user_id": ["nosnap", "nosnap", "hassnap", "hassnap"],
        "ts": [t("2024-01-01 00:01"), t("2024-01-01 00:02"),
               t("2024-01-01 00:01"), t("2024-01-01 00:02")],
        "event_id": [1, 2, 3, 4],
        "value": [1.0, 2.0, 3.0, 4.0],
        "event_type": ["view", "view", "click", "click"],
    })
    sn = pd.DataFrame(
        {"user_id": ["hassnap"], "ts": [t("2024-01-01 00:01")], "snapshot_id": [99]}
    )
    schema = TAGGED.replace("user_id long", "user_id string")
    _write_files(spark, tmp_path, [_tagged(ev, sn)], schema)
    got = _pit_stream(spark, tmp_path).toPandas().set_index("event_id")
    assert got.sort_index()["user_id"].tolist() == ev["user_id"].tolist()
    # entity with no snapshot at all: both events unmatched (and no crash)
    assert pd.isna(got.loc[1, "asof_snapshot_id"])
    assert pd.isna(got.loc[2, "asof_snapshot_id"])
    # sibling entity: the same-instant snapshot is invisible (strict), the
    # event after it matches it
    assert pd.isna(got.loc[3, "asof_snapshot_id"])
    assert got.loc[4, "asof_snapshot_id"] == 99


def _split_stream(spark, sf_dir, tmp_path, entity, n_files=3, bucket_s=3600):
    """The sf ``events`` table as ``n_files`` time-ordered parquet files
    streamed one per micro-batch. Each cut falls just before an event
    whose predecessor of the same ``entity`` shares its ``bucket_s``
    bucket (and not its ts), nearest an even split, so the state carried
    across the cut holds a partly filled bucket; ts ties never straddle a
    cut."""
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    t = ev["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    by = ev.assign(__t=t, __b=t // (bucket_s * 1_000_000)).sort_values([entity, "__t"])
    prev = by.shift()
    inside = (by[entity] == prev[entity]) & (by["__b"] == prev["__b"]) & (by["__t"] > prev["__t"])
    starts = np.sort(by.loc[inside, "__t"].to_numpy())
    cuts = [starts[np.searchsorted(starts, np.quantile(t, q / n_files))]
            for q in range(1, n_files)]
    edges = [t.min(), *cuts, t.max() + 1]
    parts = [ev[(t >= lo) & (t < hi)] for lo, hi in zip(edges, edges[1:])]
    assert len(set(cuts)) == n_files - 1 and all(len(p) for p in parts)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    _write_files(spark, tmp_path, parts, schema)
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "b*"))
    )


def test_streaming_decayed_features_matches_batch(spark, sf_dir, tmp_path):
    """The stateful streaming decay operator must reproduce the batch
    decayed_features doubles BIT-exactly (power-of-two weights make both
    sides exact, so == not approx), including across micro-batch splits
    that land inside a half-life bucket (three files, one per batch)."""
    from spark_pit.operators.windows import decayed_features
    from spark_pit.streaming import streaming_decayed_features

    src = _split_stream(spark, sf_dir, tmp_path, "user_id").where(
        F.col("event_id").isNotNull()
    ).select(
        "user_id", F.col("ts").cast("timestamp_ltz").alias("ts"), "event_id",
        F.pmod(F.floor(F.col("value") * 8).cast("long"), F.lit(1024)).alias("vq"),
    )
    out = streaming_decayed_features(src, "user_id", "ts", "vq")
    got = (
        run_available_now(out, "update")
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp_ltz").alias("ts"), "event_id",
        F.pmod(F.floor(F.col("value") * 8).cast("long"), F.lit(1024)).alias("vq"),
    )
    batch = (
        decayed_features(ev, "user_id", "ts", "vq")
        .select("event_id", "decayed_count", "decayed_sum")
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    assert len(got) == len(batch)
    assert (got["decayed_count"] == batch["decayed_count"]).all()
    assert (got["decayed_sum"] == batch["decayed_sum"]).all()
    # non-vacuous: at least one event actually has decayed history
    assert (got["decayed_count"] > 0).any()


def test_streaming_target_encode_matches_batch(spark, sf_dir, tmp_path):
    """The stateful streaming target encoder's (count, exact micro-unit
    sum) state, carried across three time-ordered micro-batches, must
    reproduce the batch target_encode_pit per event:
    te_count == batch te_count and the scale-6 decimal sum string ==
    Spark's decimal(38,6)->string of the batch running sum. Targets are
    eighth-quantized so both sides sum exact integers — == not approx."""
    from spark_pit.operators.windows import target_encode_pit
    from spark_pit.streaming import streaming_target_encode

    vq = (F.floor(F.col("value") * 8).cast("double") / F.lit(8.0)).alias("vq")
    src = (
        _split_stream(spark, sf_dir, tmp_path, "event_type")
        .where(F.col("event_id").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type", F.col("ts").cast("timestamp_ltz").alias("ts"),
            "event_id", vq,
        )
    )
    out = streaming_target_encode(src, "event_type", "ts", "vq", tiebreak="event_id")
    got = (
        run_available_now(out, "update").select("event_id", "te_count", "te_sum_str")
        .toPandas().set_index("event_id").sort_index()
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("value").isNotNull()
    ).select("event_type", "ts", "event_id", vq)
    batch = (
        target_encode_pit(ev, "event_type", "ts", "vq", tiebreak="event_id")
        .select(
            "event_id",
            F.col("te_count").alias("cnt_b"),
            F.col("te_sum").cast("string").alias("sum_b"),
        )
        .toPandas().set_index("event_id").sort_index()
    )
    assert len(got) == len(batch)
    assert (got["te_count"].to_numpy() == batch["cnt_b"].to_numpy()).all()
    first = got["te_count"] == 0
    assert got.loc[first, "te_sum_str"].isna().all()
    assert batch.loc[first.to_numpy(), "sum_b"].isna().all()
    rest = ~first
    assert (
        got.loc[rest, "te_sum_str"].to_numpy()
        == batch.loc[rest.to_numpy(), "sum_b"].to_numpy()
    ).all()
    # non-vacuous: some category actually accumulated history, and the
    # quantized targets include negatives (sign path of the formatter)
    assert (got["te_count"] > 0).any()


def test_streaming_scd2_cross_batch_state(spark, tmp_path):
    """streaming_scd2 must close intervals correctly when a run SPANS
    micro-batches (maxFilesPerTrigger=1 forces 3 batches over ts-ordered
    files): output == batch scd2_intervals' closed rows, open tails stay
    in state."""
    from datetime import datetime

    from spark_pit.operators.windows import scd2_intervals
    from spark_pit.streaming import streaming_scd2

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    batches = [
        # file 1: u1 run 'a' opens; u2 run 'x' opens
        [("u1", t(1), 1, "a"), ("u1", t(2), 2, "a"), ("u2", t(1), 3, "x")],
        # file 2: u1 still 'a' (run spans batches); u2 changes to 'y'
        [("u1", t(3), 4, "a"), ("u2", t(4), 5, "y")],
        # file 3: u1 finally changes -> closes the spanning run
        [("u1", t(6), 6, "b"), ("u2", t(7), 7, "y")],
    ]
    src_dir = tmp_path / "scd2_src"
    src_dir.mkdir()
    schema = "u string, ts timestamp_ltz, i long, c string"
    for k, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / f"b{k}")
        )
    stream_src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "b*"))
    )
    emitted = run_available_now(
        streaming_scd2(stream_src, "u", "ts", ["c"], tiebreak="i"), "update"
    )
    got = {
        (r["u"], r["valid_from_us"]): (r["c"], r["valid_to_us"])
        for r in emitted.collect()
    }
    all_rows = [r for b in batches for r in b]
    batch_df = scd2_intervals(
        spark.createDataFrame(all_rows, schema), "u", "ts", ["c"], tiebreak="i"
    )
    want = {
        (r["u"], r["valid_from_us"]): (r["c"], r["valid_to_us"])
        for r in batch_df.where(F.col("is_current") == False).collect()  # noqa: E712
    }
    assert got == want
    # the spanning run really closed (u1 'a' from t1 to t6), proving the
    # state carried across 3 micro-batches
    us = lambda s: int(datetime(2024, 1, 1, 0, 0, s).timestamp() * 1_000_000)
    assert got[("u1", us(1))] == ("a", us(6))
    assert got[("u2", us(1))] == ("x", us(4))


def test_streaming_funnel_cross_batch_chain(spark, tmp_path):
    """A funnel chain assembled ACROSS micro-batches (A in batch 1, B in
    batch 2, C in batch 3) must equal the batch operator, including the
    completion-window check."""
    from datetime import datetime

    from spark_pit.operators.windows import funnel_steps
    from spark_pit.streaming import streaming_funnel

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    batches = [
        [("u1", t(1), 1, "A"), ("u2", t(1), 2, "A"), ("u3", t(1), 3, "B")],
        [("u1", t(2), 4, "B"), ("u2", t(2), 5, "C")],       # u2: C before B
        [("u1", t(4), 6, "C"), ("u2", t(5), 7, "B"), ("u2", t(50), 8, "C")],
    ]
    src_dir = tmp_path / "funnel_src"
    src_dir.mkdir()
    schema = "u string, ts timestamp_ltz, i long, s string"
    for k, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / f"b{k}")
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "b*"))
    )
    emitted = run_available_now(
        streaming_funnel(src, "u", "ts", "s", ["A", "B", "C"], within_s=10,
                         tiebreak="i"),
        "update",
    )
    folded = (
        emitted
        .groupBy("u")
        .agg(
            F.max("step0_ts_us").alias("t0"), F.max("step1_ts_us").alias("t1"),
            F.max("step2_ts_us").alias("t2"), F.max("funnel_depth").alias("d"),
            F.max("completed").alias("c"),
        )
    )
    got = {r["u"]: r for r in folded.collect()}
    all_rows = [r for b in batches for r in b]
    want = {
        r["u"]: r
        for r in funnel_steps(
            spark.createDataFrame(all_rows, schema), "u", "ts", "s",
            ["A", "B", "C"], within_s=10,
        ).collect()
    }
    assert set(got) == set(want) == {"u1", "u2"}   # u3 never saw A
    for u in want:
        assert got[u]["t0"] == want[u]["step0_ts_us"]
        assert got[u]["t1"] == want[u]["step1_ts_us"]
        assert got[u]["t2"] == want[u]["step2_ts_us"]
        assert got[u]["d"] == want[u]["funnel_depth"]
        assert got[u]["c"] == want[u]["completed"]
    assert got["u1"]["d"] == 3 and got["u1"]["c"]          # cross-batch chain
    assert got["u2"]["d"] == 3 and not got["u2"]["c"]      # outside window


def test_streaming_scd2_multi_attr_order_across_batches(spark, tmp_path):
    """Regression (round-6 advice): with attr_cols in a DIFFERENT order
    than the DataFrame schema AND mixed types, state restore across
    micro-batch boundaries must not swap attribute values positionally.
    Pre-fix, attr_decl followed schema order while state.update used
    attr_cols order — a long/string swap here raises or closes wrong
    intervals; post-fix the output equals the batch operator exactly."""
    from datetime import datetime

    from spark_pit.operators.windows import scd2_intervals
    from spark_pit.streaming import streaming_scd2

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    # schema order: c1 (long) BEFORE c2 (string); attr_cols reversed below
    batches = [
        [("u1", t(1), 1, 10, "a"), ("u1", t(2), 2, 10, "a")],
        [("u1", t(3), 3, 10, "a")],           # unchanged: spans batches
        [("u1", t(5), 4, 20, "a"), ("u1", t(7), 5, 20, "b")],
    ]
    src_dir = tmp_path / "scd2_order_src"
    src_dir.mkdir()
    schema = "u string, ts timestamp_ltz, i long, c1 long, c2 string"
    for k, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / f"b{k}")
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "b*"))
    )
    emitted = run_available_now(
        streaming_scd2(src, "u", "ts", ["c2", "c1"], tiebreak="i"), "update"
    )
    got = {
        (r["u"], r["valid_from_us"]): (r["c2"], r["c1"], r["valid_to_us"])
        for r in emitted.collect()
    }
    all_rows = [r for b in batches for r in b]
    want = {
        (r["u"], r["valid_from_us"]): (r["c2"], r["c1"], r["valid_to_us"])
        for r in scd2_intervals(
            spark.createDataFrame(all_rows, schema), "u", "ts",
            ["c2", "c1"], tiebreak="i",
        ).where(F.col("is_current") == False).collect()  # noqa: E712
    }
    assert got == want
    us = lambda s: int(datetime(2024, 1, 1, 0, 0, s).timestamp() * 1_000_000)
    # two closed runs: (10,'a') t1->t5 (closed by a c1-only change carried
    # across the batch-2 state restore) and (20,'a') t5->t7
    assert got[("u1", us(1))] == ("a", 10, us(5))
    assert got[("u1", us(5))] == ("a", 20, us(7))


def test_streaming_target_encode_intra_batch_int64_overflow(spark, tmp_path):
    """Regression (round-6 advice): a SINGLE micro-batch whose running sum
    exceeds int64 must not wrap inside np.cumsum. Four rows of 4e18 µs
    each: the 4th row's exclusive prefix is 1.2e19 > int64.max — pre-fix
    the int64 cumsum silently wrapped negative; post-fix the object-dtype
    path keeps it exact."""
    from datetime import datetime

    from spark_pit.streaming import streaming_target_encode

    v = 4e12  # * 1e6 -> 4e18 µs, exactly representable in float64
    rows = [
        ("cat", datetime(2024, 1, 1, 0, 0, s), s, v) for s in range(1, 5)
    ]
    src_dir = tmp_path / "te_ovf_src"
    src_dir.mkdir()
    schema = "c string, ts timestamp_ltz, i long, v double"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(src_dir / "b0")
    )
    src = spark.readStream.schema(schema).parquet(str(src_dir / "b*"))
    emitted = run_available_now(
        streaming_target_encode(src, "c", "ts", "v", tiebreak="i"), "update"
    )
    got = {
        r["i"]: (r["te_count"], r["te_sum_str"])
        for r in emitted.collect()
    }
    unit = 4_000_000_000_000_000_000  # µs per row, a Python int
    for k in range(1, 5):
        cnt, s = got[k]
        assert cnt == k - 1
        if k == 1:
            assert s is None
        else:
            run = unit * (k - 1)  # exact, > int64.max for k == 4
            assert s == f"{run // 1_000_000}.{run % 1_000_000:06d}"
    # the interesting row really is beyond int64
    assert unit * 3 > 2**63 - 1


def test_stateful_kernels_survive_multi_chunk_groups(spark, tmp_path):
    """Regression (round-6 endurance find): applyInPandasWithState hands a
    group over as MULTIPLE Arrow chunks in post-shuffle ARRIVAL order, not
    event-time order. Pre-fix every stateful kernel sorted each chunk
    separately and carried intra-batch state chunk-to-chunk — correct only
    while a group fit one ~10k-row chunk, silently wrong beyond (at 10M
    events the streaming target encoder diverged from batch on 99.8% of
    rows). Reproduced at fixture scale by forcing 25-row Arrow chunks over
    a 400-row shuffled single-category batch; pinned bit-equal to batch."""
    from datetime import datetime, timedelta

    import numpy as np

    from spark_pit.operators.windows import target_encode_pit
    from spark_pit.streaming import streaming_target_encode

    rng = np.random.default_rng(5)
    t0 = datetime(2024, 1, 1)
    rows = [
        ("cat", t0 + timedelta(seconds=int(i)), int(i), float(i % 8) / 8)
        for i in range(400)
    ]
    rng.shuffle(rows)  # arrival order != event-time order within the batch
    src_dir = tmp_path / "chunks_src"
    src_dir.mkdir()
    schema = "c string, ts timestamp_ltz, i long, v double"
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(str(src_dir / "b0"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "25")
    try:
        src = spark.readStream.schema(schema).parquet(str(src_dir / "b*"))
        emitted = run_available_now(
            streaming_target_encode(src, "c", "ts", "v", tiebreak="i"), "update"
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {
        r["i"]: (r["te_count"], r["te_sum_str"])
        for r in emitted.collect()
    }
    want = {
        r["i"]: (
            r["te_count"],
            str(r["te_sum"]) if r["te_count"] > 0 else None,
        )
        for r in target_encode_pit(df, "c", "ts", "v", tiebreak="i").collect()
    }
    assert got == want


def test_streaming_drift_counts_accumulate_across_batches(spark, tmp_path):
    """The streaming drift monitor's per-(shard, category) period counts
    must ACCUMULATE across micro-batches (maxFilesPerTrigger=1 forces 3
    batches) so the TV computed from the final streamed counts equals
    the batch tv_drift_by_group over the union of all batches — exact
    integer equality, per shard."""
    from spark_pit.operators.drift import tv_drift_by_group, tv_from_counts

    batches = [
        # (shard, category, period): category mix shifts between periods
        [(0, "a", 0), (0, "a", 0), (0, "b", 0), (1, "x", 0)],
        [(0, "a", 1), (0, "b", 1), (0, "b", 1), (1, "x", 1)],
        [(0, "c", 1), (1, "y", 0), (1, "y", 1), (1, "x", 0)],
    ]
    src_dir = tmp_path / "drift_src"
    src_dir.mkdir()
    schema = "shard int, v string, p long"
    for k, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src_dir / f"b{k}")
        )
    stream_src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "b*"))
    )
    counts = stream_src.groupBy("shard", "v").agg(
        F.sum(F.lit(1) - F.col("p")).alias("__cr"),
        F.sum("p").alias("__cc"),
    )
    final = run_available_now(counts, "complete")
    got = {
        r["shard"]: (r["n_ref"], r["n_cur"], r["tv_micro"])
        for r in tv_from_counts(final, "shard").collect()
    }
    all_rows = [r for b in batches for r in b]
    want = {
        r["shard"]: (r["n_ref"], r["n_cur"], r["tv_micro"])
        for r in tv_drift_by_group(
            spark.createDataFrame(all_rows, schema), "shard", "v", "p"
        ).collect()
    }
    assert got == want
    # sanity: shard 0 really drifted (b appears more, c appears, a drops)
    assert want[0][2] > 0


def _leftovers(spark):
    """What a drained stream could leave behind: temp views (memory sinks),
    active queries and ck_* checkpoint directories."""
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    cks = set(glob.glob(os.path.join(tempfile.gettempdir(), "ck_*")))
    return views, cks


def test_parity_queries_match_oracle_and_clean_up(spark, sf_dir):
    """Two parity queries, twice each: every row equals its pinned oracle
    row, and no sink view, active stream or checkpoint directory remains."""
    from spark_pit.queries import ORACLES, QUERIES

    views, cks = _leftovers(spark)
    for name in ["streaming_asof_parity", "streaming_scd2_parity"]:
        want = [r.asDict() for r in spark.sql(ORACLES[name]).collect()]
        for _ in range(2):
            got = [r.asDict() for r in QUERIES[name](spark, sf_dir).collect()]
            assert got == want, name
    assert _leftovers(spark) == (views, cks)
    assert not spark.streams.active


def test_run_available_now_cleans_up_on_stream_failure(spark, sf_dir):
    """A stream that fails mid-batch raises out of run_available_now, and
    its sink, query and checkpoint are gone all the same."""
    views, cks = _leftovers(spark)
    bad = _stream_events(spark, sf_dir).select(
        "event_id", F.raise_error(F.lit("stream failure probe")).alias("boom")
    )
    with pytest.raises(Exception, match="stream failure probe"):
        run_available_now(bad, "append")
    assert _leftovers(spark) == (views, cks)
    assert not spark.streams.active


def test_run_available_now_cleans_up_on_timeout(spark, sf_dir, monkeypatch):
    """A stream that outlives SPARK_PIT_STREAM_TIMEOUT fails loudly instead
    of returning a partial sink, and is cleaned up like any other."""
    import time

    @F.pandas_udf("long")
    def slow(ids: pd.Series) -> pd.Series:
        time.sleep(5)
        return ids

    monkeypatch.setenv("SPARK_PIT_STREAM_TIMEOUT", "1")
    views, cks = _leftovers(spark)
    stalled = _stream_events(spark, sf_dir).select(slow("event_id").alias("event_id"))
    with pytest.raises(RuntimeError, match="did not finish within 1s"):
        run_available_now(stalled, "append")
    assert _leftovers(spark) == (views, cks)
    assert not spark.streams.active
