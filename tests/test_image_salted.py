"""Image flagship: salted hot-key path == bucketed path on the synthetic
table (datagen designates hot image_ids holding ~20% of rows)."""

from __future__ import annotations

import numpy as np

from spark_pit.datagen import images_table, snapshots_table
from spark_pit.pipeline import image_pit_features


def test_image_pipeline_salted_equals_bucketed(spark):
    images = images_table(spark, n_entities=30, n_rows=900, seed=11)
    snaps = snapshots_table(spark, n_entities=30, snaps_per_entity=6, seed=11)
    base = (
        image_pit_features(images, snaps, num_buckets=4)
        .orderBy("image_id", "event_ts").toPandas().reset_index(drop=True)
    )
    salted = (
        image_pit_features(images, snaps, hot_threshold=40, chunk_seconds=6 * 3600)
        .orderBy("image_id", "event_ts").toPandas().reset_index(drop=True)
    )
    n_events = images.count()
    assert len(base) == len(salted) == n_events
    for c in base.columns:
        a, b = base[c], salted[c]
        if c == "wc":
            np.testing.assert_allclose(
                np.vstack(a.to_numpy()), np.vstack(b.to_numpy()),
                rtol=1e-12, err_msg=c,
            )
        elif a.dtype.kind == "f":
            np.testing.assert_allclose(
                a.to_numpy(float), b.to_numpy(float),
                rtol=1e-12, equal_nan=True, err_msg=c,
            )
        else:
            assert a.astype(str).equals(b.astype(str)), c


def test_image_pipeline_with_pixel_stats(spark):
    images = images_table(spark, n_entities=15, n_rows=200, seed=5)
    snaps = snapshots_table(spark, n_entities=15, snaps_per_entity=4, seed=5)
    out = image_pit_features(
        images, snaps, num_buckets=4, with_pixel_stats=True
    ).toPandas()
    assert len(out) == images.count()
    assert {"mean_lum", "std_gray"} <= set(out.columns)
    # every payload in the synthetic table decodes
    assert out["mean_lum"].notna().all()
    assert (out["mean_lum"] >= 0).all() and (out["mean_lum"] <= 255).all()
    # phash_pop identical between the pixel-stats path and the cheap path
    cheap = image_pit_features(images, snaps, num_buckets=4).toPandas()
    a = out.sort_values(["image_id", "event_ts", "phash_pop"]).reset_index(drop=True)
    b = cheap.sort_values(["image_id", "event_ts", "phash_pop"]).reset_index(drop=True)
    np.testing.assert_allclose(a["phash_pop"], b["phash_pop"])

    # the channels come from one definition: on rows keyed one image each,
    # with a null phash and a null caption planted, the pixel-stats branch
    # gives the default branch's phash_pop, caption_len and aspect, nulls
    # included, and its pixel stats agree with decode_stats on the rows
    from pyspark.sql import functions as F

    from spark_pit.operators.images import decode_stats
    from spark_pit.pipeline import image_channels

    pdf = images.toPandas()
    pdf["image_id"] = [f"{i}#{k}" for k, i in enumerate(pdf["image_id"])]
    null_phash, null_caption = pdf["image_id"].iloc[0], pdf["image_id"].iloc[1]
    keyed = spark.createDataFrame(pdf, schema=images.schema).select(
        *(c for c in images.columns if c not in ("phash", "caption")),
        F.when(F.col("image_id") == null_phash, None)
        .otherwise(F.col("phash")).alias("phash"),
        F.when(F.col("image_id") == null_caption, None)
        .otherwise(F.col("caption")).alias("caption"),
    )
    px = image_channels(keyed, with_pixel_stats=True).toPandas().set_index("image_id")
    base = image_channels(keyed).toPandas().set_index("image_id").loc[px.index]
    assert len(px) == len(pdf)
    assert np.isnan(px.loc[null_phash, "phash_pop"])
    assert np.isnan(px.loc[null_caption, "caption_len"])
    for c in ("phash_pop", "caption_len", "aspect"):
        np.testing.assert_array_equal(px[c].to_numpy(), base[c].to_numpy(), err_msg=c)
    stats = decode_stats(keyed).toPandas().set_index("image_id").loc[px.index]
    np.testing.assert_array_equal(px["std_gray"].to_numpy(), stats["std_gray"].to_numpy())
    np.testing.assert_allclose(
        px["mean_lum"].to_numpy(),
        stats[["mean_r", "mean_g", "mean_b"]].mean(axis=1).to_numpy(),
        rtol=0, atol=1e-6,
    )
