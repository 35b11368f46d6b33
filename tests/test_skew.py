"""Salted skew handling: the time-chunked (salted) PIT path must equal the
declarative window/as-of reference, pit_features_declarative, which never
chunks a timeline (north_rule: salted repartitioning for hot image_ids;
SURVEY.md §7 step 5)."""

from __future__ import annotations

import datetime as dt
import re

import numpy as np
import pandas as pd
import pytest
from conftest import BIG_ID, assert_same_pit, exact_ids
from pyspark.sql import functions as F

from spark_pit.operators.pit import pit_features_declarative
from spark_pit.operators.skew import hot_entities, pit_features_salted

VOCAB = ["view", "click", "purchase"]
EPOCH = dt.datetime(2024, 1, 1)


def _mk(spark, seed=7, n_hot=4000, n_cold=60, epoch=EPOCH):
    """One hot entity with a dense, NaN-pocked, session-gapped timeline plus
    a few cold entities; snapshots from the purchase events."""
    rng = np.random.default_rng(seed)
    rows = []
    t = 0.0
    for i in range(n_hot):
        # mix of sub-gap steps, exact-gap edges, and session breaks;
        # occasional sparse stretches so some time chunks hold 1 row
        step = rng.choice([5.0, 60.0, 1900.0, 90000.0], p=[0.6, 0.3, 0.08, 0.02])
        t += step
        rows.append(("hot", t, float(rng.normal()) if rng.random() > 0.15 else None,
                     VOCAB[int(rng.integers(0, 3))]))
    for e in range(3):
        tc = float(e) * 3.0
        for i in range(n_cold):
            tc += float(rng.choice([10.0, 2500.0], p=[0.8, 0.2]))
            rows.append((f"cold{e}", tc, float(rng.normal()) if rng.random() > 0.2 else None,
                         VOCAB[int(rng.integers(0, 3))]))
    pdf = pd.DataFrame(rows, columns=["user_id", "off", "value", "event_type"])
    pdf["ts"] = pdf["off"].map(lambda s: epoch + dt.timedelta(seconds=s))
    pdf["event_id"] = np.arange(len(pdf), dtype=np.int64)
    ev = spark.createDataFrame(pdf[["user_id", "ts", "value", "event_type", "event_id"]])
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    snaps = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("snapshot_ts"), F.col("event_id").alias("snapshot_id")
    )
    # a twin of the hot entity's first snapshot with an id above 2^53: it
    # wins the tie on its timestamp and is carried across later chunks
    big = (
        snaps.where(F.col("user_id") == "hot").orderBy("snapshot_id").limit(1)
        .withColumn("snapshot_id", F.lit(BIG_ID))
    )
    return ev, snaps.unionByName(big)


@pytest.mark.parametrize("chunk_seconds", [3600, 40000])
def test_salted_equals_unsalted_all_entities(spark, chunk_seconds):
    ev, snaps = _mk(spark)
    base = exact_ids(pit_features_declarative(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5,
    ))
    salted = exact_ids(pit_features_salted(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5, chunk_seconds=chunk_seconds,
    ))
    assert_same_pit(base, salted)


def test_hot_threshold_split_path(spark):
    ev, snaps = _mk(spark)
    hot = hot_entities(ev, "user_id", threshold=1000)
    assert hot == ["hot"]
    base = exact_ids(pit_features_declarative(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5,
    ))
    mixed = exact_ids(pit_features_salted(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5, chunk_seconds=7200, hot_threshold=1000,
    ))
    assert_same_pit(base, mixed)


def test_mixed_hot_cold_around_the_cold_chunk(spark):
    """A hot entity whose timeline starts before 1970, so its chunk ids run
    from negative through COLD_CHUNK, shares the kernel cogroup with cold
    entities that each sit in that one constant chunk."""
    from spark_pit.operators.skew import COLD_CHUNK
    from spark_pit.util import ts_us

    ev, snaps = _mk(spark, epoch=dt.datetime(1969, 12, 31, 12))
    lo, hi = (
        ev.where(F.col("user_id") == "hot")
        .select(F.floor(ts_us("ts") / F.lit(3600 * 1_000_000)).alias("c"))
        .agg(F.min("c"), F.max("c")).first()
    )
    assert lo < COLD_CHUNK < hi
    base = exact_ids(pit_features_declarative(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5,
    ))
    mixed = exact_ids(pit_features_salted(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5, chunk_seconds=3600, hot_ids=["hot"], num_buckets=4,
    ))
    assert_same_pit(base, mixed)


def test_hot_threshold_above_every_entity(spark):
    ev, snaps = _mk(spark)
    assert hot_entities(ev, "user_id", threshold=5000) == []
    base = exact_ids(pit_features_declarative(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5,
    ))
    none_hot = exact_ids(pit_features_salted(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5, chunk_seconds=7200, hot_threshold=5000,
    ))
    assert_same_pit(base, none_hot)


def test_hot_and_cold_share_one_feature_cogroup(spark):
    """With hot ids present the image pipeline plans ONE feature kernel:
    cold ids ride its cogroup instead of a second, unioned kernel plan."""
    from spark_pit.datagen import images_table, snapshots_table
    from spark_pit.pipeline import image_pit_features

    images = images_table(spark, n_entities=30, n_rows=900, seed=11)
    snaps = snapshots_table(spark, n_entities=30, snaps_per_entity=6, seed=11)
    out = image_pit_features(images, snaps, hot_threshold=40, chunk_seconds=6 * 3600)
    plan = out._jdf.queryExecution().optimizedPlan().toString().splitlines()
    feature = [i for i, ln in enumerate(plan) if "FlatMapCoGroupsInPandas" in ln and "__wc0" in ln]
    assert len(feature) == 1
    assert not any("Union" in ln for ln in plan[: feature[0]])


def test_salted_fans_out_tasks(spark):
    """The salted plan must actually split the hot key across many groups."""
    ev, snaps = _mk(spark)
    from spark_pit.operators.skew import CHUNK
    from spark_pit.util import ts_us
    n_chunks = (
        ev.where(F.col("user_id") == "hot")
        .select(F.floor(ts_us("ts") / F.lit(3600 * 1_000_000)).alias(CHUNK))
        .distinct()
        .count()
    )
    assert n_chunks > 10


def test_morton_zorder_layout(spark):
    """Z-order: the interleave matches a bit-twiddling brute force, keys
    are unique when (x, y) are, and file ids are bounded + monotone in
    the key."""
    import pandas as pd
    from pyspark.sql import functions as F

    from spark_pit.operators.skew import zorder_layout

    rows = [(i, (i * 37) % 65536, (i * 61) % 65536) for i in range(500)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["rid", "x", "y"]))
    out = zorder_layout(df, "x", "y", n_files=16, bits=16).toPandas()

    def brute(x, y):
        c = 0
        for i in range(16):
            c |= ((x >> i) & 1) << (2 * i)
            c |= ((y >> i) & 1) << (2 * i + 1)
        return c

    for _, r in out.iterrows():
        assert r["zorder_key"] == brute(int(r["x"]), int(r["y"]))
    assert out["file_id"].between(0, 15).all()
    s = out.sort_values("zorder_key")
    assert (s["file_id"].diff().dropna() >= 0).all()  # monotone buckets


def test_countmin_never_underestimates(spark):
    """CMS guarantee on an adversarial skewed key set: every estimate >=
    the exact count, the hot key's estimate is exact when its buckets are
    clean, and estimates are partitioning-invariant."""
    import pandas as pd
    from pyspark.sql import functions as F

    from spark_pit.operators.skew import countmin_estimates

    keys = ["hot"] * 500 + [f"k{i}" for i in range(200)] * 2
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    est = countmin_estimates(df, "k", d=4, w=256).toPandas().set_index("k")
    exact = pd.Series(keys).value_counts()
    for k, n in exact.items():
        assert est.loc[k, "cm_est"] >= n, k
    # the hot key dominates: estimate within collision slack of exact
    assert est.loc["hot", "cm_est"] >= 500
    est2 = (
        countmin_estimates(df.repartition(7), "k", d=4, w=256)
        .toPandas().set_index("k")
    )
    assert (est["cm_est"].sort_index() == est2["cm_est"].sort_index()).all()


def test_countmin_detector_default_no_exact_groupby(spark, monkeypatch):
    """``hot_threshold`` detection is the count-min sketch while its
    candidate sample rate is below 1 (here 1 row in 1000 // 50 = 20): the
    exact full-key-space groupBy (hot_entities) must never run, detection
    must still find the hot key, and the routed output must equal the
    unsalted baseline."""
    import spark_pit.operators.skew as skew

    ev, snaps = _mk(spark)

    def boom(*a, **k):  # the exact detector is the thing we're replacing
        raise AssertionError("exact hot_entities called on the countmin path")

    monkeypatch.setattr(skew, "hot_entities", boom)
    base = exact_ids(pit_features_declarative(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5,
    ))
    mixed = exact_ids(skew.pit_features_salted(
        ev, snaps, "user_id", "ts", "value", "event_type", VOCAB,
        gap_seconds=1800, width=5, chunk_seconds=7200, hot_threshold=1000,
    ))
    assert_same_pit(base, mixed)


def _at_and_over(spark, threshold: int):
    """Key AT with exactly ``threshold`` events, OVER with one more, and
    cold keys far below it."""
    keys = ["AT"] * threshold + ["OVER"] * (threshold + 1) + [f"c{i % 40}" for i in range(200)]
    return spark.createDataFrame(
        pd.DataFrame({"k": keys, "payload": np.arange(len(keys), dtype=np.int64)})
    )


@pytest.mark.parametrize("threshold", [28, 99])
def test_countmin_detector_counts_exactly_when_sample_keeps_every_row(
    spark, monkeypatch, threshold
):
    """threshold // oversample <= 1: the sample would keep every row, so
    detection is hot_entities' exact count with the same ``> threshold``
    rule, and the sketch never runs."""
    import spark_pit.operators.skew as skew

    ev = _at_and_over(spark, threshold)
    exact = skew.hot_entities(ev, "k", threshold)
    assert exact == ["OVER"]

    def boom(*a, **k):
        raise AssertionError("the sketch ran although the sample keeps every row")

    monkeypatch.setattr(skew, "countmin_estimates", boom)
    assert sorted(skew.hot_entities_countmin(ev, "k", threshold)) == exact


def test_countmin_detector_sketches_when_sample_rate_below_one(spark, monkeypatch):
    """threshold 100, oversample 50: the sample keeps one row in 2, and the
    sketch is the detector."""
    import spark_pit.operators.skew as skew

    calls = []
    sketch = skew.countmin_estimates

    def spy(*a, **k):
        calls.append(k)
        return sketch(*a, **k)

    monkeypatch.setattr(skew, "countmin_estimates", spy)
    got = skew.hot_entities_countmin(_at_and_over(spark, 100), "k", 100)
    assert len(calls) == 1
    assert sorted(got) == ["OVER"]


def test_countmin_detector_recall_and_sampled_plan(spark, monkeypatch):
    """The CMS detector finds every truly hot key (never-underestimate +
    ~e^-50 sample miss probability), and the candidate keys it probes the
    sketch with come from the SAMPLED plan (a Filter on the per-row hash),
    not a full-key distinct."""
    import spark_pit.operators.skew as skew

    probes = []
    sketch = skew.countmin_estimates

    def spy(*a, **k):
        probes.append(k["keys"])
        return sketch(*a, **k)

    monkeypatch.setattr(skew, "countmin_estimates", spy)
    ev, _ = _mk(spark)
    assert skew.hot_entities_countmin(ev, "user_id", threshold=1000) == ["hot"]
    assert len(probes) == 1

    # threshold > oversample so the sample rate is real (denom=20): the
    # candidate branch must filter on the row hash, which takes a per-row
    # distinguisher, before any aggregate touches the key column. Local-
    # relation inputs get the filter constant-folded into the scan
    # (ConvertToLocalRelation), so assert on the analyzed plan where the
    # Filter node is still visible.
    plan = probes[0]._jdf.queryExecution().analyzed().toString()
    assert re.search(r"Filter .*xxhash64\(.*monotonically_increasing_id\(\)", plan), plan
    n_cand = probes[0].count()
    n_keys = ev.select("user_id").distinct().count()
    assert n_cand <= n_keys  # candidates never exceed the key space


def test_countmin_width_scales_with_data_not_constant(spark):
    """Round-5 regression (found at 51.2M rows): a FIXED sketch width has
    bias ~N/w, so past N ≈ w·threshold the detector flags EVERY key hot
    (767k false hots at sf0.1x512 — a 10-minute isin-routing hang). The
    effective width must grow with N/threshold so the bias stays at
    threshold/bias_factor."""
    from spark_pit.operators.skew import countmin_estimates, hot_entities_countmin

    # 1000 cold keys x 300 events (N=300k) + one hot key x 1200
    base = spark.range(300_000).select(
        (F.col("id") % 1000).cast("string").alias("k"),
        F.col("id").alias("payload"),
    )
    hot = spark.range(1200).select(
        F.lit("HOT").alias("k"), (F.col("id") + 1_000_000).alias("payload")
    )
    ev = base.unionByName(hot)

    # the OLD fixed-width behavior misfires: at w=1024 the per-row bias
    # (~294 expected) pushes cold 300-count keys past the 400 threshold
    # for whichever keys collide in all d rows (>10% of keys here; at the
    # production N/w ratios it was 100% of keys)
    est_fixed = countmin_estimates(ev.select("k"), "k", d=4, w=1024)
    n_fixed_hot = est_fixed.where(F.col("cm_est") > 400).count()
    assert n_fixed_hot > 100  # the failure mode this test pins

    # the autosized detector: exactly the one genuinely hot key
    got = hot_entities_countmin(ev, "k", threshold=400, w=1024)
    assert got == ["HOT"]


def test_countmin_detects_duplicate_row_hot_key(spark):
    """Regression (round-6 advice): a hot key made entirely of
    byte-identical replayed rows (the telemetry-dup scenario) must still
    be detected. Pre-fix the candidate sample hashed only column VALUES,
    so identical rows sampled all-or-none and the hot key was missed with
    probability ~(1 - 1/rate_denom) ~ 90% at defaults; post-fix each
    physical row samples independently (miss ~ e^-oversample)."""
    from spark_pit.operators.skew import hot_entities_countmin

    base = spark.range(100_000).select(
        (F.col("id") % 500).cast("string").alias("k"),
        F.col("id").alias("payload"),
    )
    # 2000 byte-identical rows for key DUP (same payload value every row)
    dup = spark.range(2000).select(
        F.lit("DUP").alias("k"), F.lit(-1).cast("long").alias("payload")
    )
    got = hot_entities_countmin(
        base.unionByName(dup), "k", threshold=500, w=8192
    )
    assert "DUP" in got
