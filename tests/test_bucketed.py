"""Bucketed (segment-vectorized) fused kernel == the declarative
window/as-of reference (pit_features_declarative)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_pit.operators.pit import pit_features_bucketed, pit_features_declarative
from spark_pit.operators.skew import pit_features_salted

VOCAB = ["click", "error", "purchase", "signup", "view"]
BIG_ID = 2**53 + 1  # the first integer a float64 cannot hold


def _frames(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = ev.where("event_type = 'purchase'").selectExpr(
        "user_id", "ts as snapshot_ts", "event_id as snapshot_id"
    )
    # a twin of the first snapshot with an id above 2^53: it wins the tie
    # on its timestamp, so events match it, and any float round trip of
    # the id shows
    big = snaps.orderBy("snapshot_id").limit(1).withColumn("snapshot_id", F.lit(BIG_ID))
    return ev, snaps.unionByName(big)


def _exact_ids(df) -> pd.DataFrame:
    """toPandas with the nullable id as a string: pandas holds a nullable
    long as float64, which would round ids above 2^53."""
    return df.withColumn(
        "asof_snapshot_id", F.col("asof_snapshot_id").cast("string")
    ).toPandas()


def _cmp(a: pd.DataFrame, b: pd.DataFrame):
    assert (a["asof_snapshot_id"] == str(BIG_ID)).any()
    a = a.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    b = b.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in a.columns:
        if c == "wc":
            np.testing.assert_allclose(
                np.vstack(a[c].to_numpy()), np.vstack(b[c].to_numpy()),
                rtol=1e-12, atol=1e-12, err_msg=c,
            )
        elif a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            np.testing.assert_allclose(
                a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float),
                rtol=1e-12, atol=1e-12, equal_nan=True, err_msg=c,
            )
        else:
            assert a[c].astype(str).equals(b[c].astype(str)), c


def test_bucketed_equals_declarative(spark, sf_dir):
    ev, snaps = _frames(spark, sf_dir)
    kw = dict(
        entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB, gap_seconds=1800, width=5,
        tiebreak="event_id",
    )
    a = _exact_ids(pit_features_declarative(ev, snaps, **kw))
    b = _exact_ids(pit_features_bucketed(ev, snaps, num_buckets=7, **kw))
    _cmp(a, b)


def test_bucketed_single_bucket(spark, sf_dir):
    """Degenerate bucket count: every entity in one pandas batch."""
    ev, snaps = _frames(spark, sf_dir)
    kw = dict(
        entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB, gap_seconds=1800, width=5,
        tiebreak="event_id",
    )
    a = _exact_ids(pit_features_declarative(ev, snaps, **kw))
    b = _exact_ids(pit_features_bucketed(ev, snaps, num_buckets=1, **kw))
    _cmp(a, b)


def test_bucketed_no_snapshots(spark, sf_dir):
    ev, _ = _frames(spark, sf_dir)
    empty = ev.where("1=0").selectExpr(
        "user_id", "ts as snapshot_ts", "event_id as snapshot_id"
    )
    out = pit_features_bucketed(
        ev, empty, entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB, num_buckets=4,
    ).toPandas()
    assert out["asof_snapshot_id"].isna().all()
    assert len(out) == ev.count()


@pytest.mark.parametrize("pit", [pit_features_bucketed, pit_features_salted])
def test_empty_vocab_rejected(spark, sf_dir, pit):
    """With no tokens the window composition has no columns: both kernel
    paths refuse at plan time instead of building a malformed schema."""
    ev, snaps = _frames(spark, sf_dir)
    with pytest.raises(ValueError, match="vocab is empty"):
        pit(ev, snaps, entity="user_id", ts="ts", numeric_col="value",
            token_col="event_type", vocab=[])
