"""As-of join semantics: strict-vs-nonstrict ties, null matches, the
strict and inclusive joins against DuckDB's ASOF JOIN on real data, and
the zero-temporal-leakage property the north rule requires."""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_pit.operators.asof import asof_join_window

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from check_oracle import compare  # noqa: E402


def _t(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def tiny(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "a", "b", "c"],
                "ts": [_t(5), _t(10), _t(20), _t(10), _t(10)],
                "eid": [1, 2, 3, 4, 5],
            }
        ),
        schema="k string, ts timestamp_ntz, eid long",
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "b"],
                "sts": [_t(10), _t(15), _t(30)],
                "sid": [100, 101, 102],
            }
        ),
        schema="k string, sts timestamp_ntz, sid long",
    )
    return left, right


def _collect(df):
    return {r["eid"]: r["asof_sid"] for r in df.collect()}


@pytest.mark.parametrize("impl", [asof_join_window])
def test_strict_excludes_equal_ts(tiny, impl):
    left, right = tiny
    out = impl(left, right, ["k"], "ts", "sts", ["sid"], strict=True, right_order="sid")
    got = _collect(out)
    # eid=2 at ts=10 must NOT see the sid=100 snapshot at ts=10 (leakage)
    assert got == {1: None, 2: None, 3: 101, 4: None, 5: None}


@pytest.mark.parametrize("impl", [asof_join_window])
def test_nonstrict_includes_equal_ts(tiny, impl):
    left, right = tiny
    out = impl(left, right, ["k"], "ts", "sts", ["sid"], strict=False, right_order="sid")
    got = _collect(out)
    assert got == {1: None, 2: 100, 3: 101, 4: None, 5: None}


@pytest.mark.parametrize("name", ["asof_join", "asof_join_inclusive"])
def test_window_join_matches_duckdb_on_real_data(spark, sf_dir, name):
    """The strict and the inclusive ``asof_join_window`` equal DuckDB's
    ASOF JOIN over the same events (the registry query and its pinned
    oracle SQL), compared by the oracle harness."""
    import duckdb

    from spark_pit.queries import ORACLES, QUERIES

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    got = QUERIES[name](spark, sf_dir).toPandas()
    want = con.execute(ORACLES[name]).df()
    assert len(got) == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert compare(name, got, want) == []


def test_zero_temporal_leakage(spark, sf_dir):
    """Perturb all snapshots after time T; features at events <= T must be
    bit-identical (BASELINE.json north_rule leakage clause)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = ev.where("event_type = 'purchase'").selectExpr(
        "user_id", "ts as snapshot_ts", "event_id as snapshot_id", "value as snap_value"
    )
    cutoff = "2024-01-15 00:00:00"
    perturbed = snaps.withColumn(
        "snap_value",
        F.when(F.col("snapshot_ts") > cutoff, F.col("snap_value") * -999.0).otherwise(
            F.col("snap_value")
        ),
    )
    kw = dict(
        on=["user_id"], left_ts="ts", right_ts="snapshot_ts",
        value_cols=["snap_value"], strict=True, right_order="snapshot_id",
    )
    base = (
        asof_join_window(ev, snaps, **kw)
        .where(F.col("ts") <= cutoff)
        .orderBy("event_id")
        .toPandas()
    )
    pert = (
        asof_join_window(ev, perturbed, **kw)
        .where(F.col("ts") <= cutoff)
        .orderBy("event_id")
        .toPandas()
    )
    a = base["asof_snap_value"].to_numpy(dtype=float)
    b = pert["asof_snap_value"].to_numpy(dtype=float)
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.array_equal(a[~np.isnan(a)], b[~np.isnan(b)])


def test_asof_nearest_directions_tolerance_and_ties(spark):
    """Nearest mode: backward/forward arbitration by absolute distance,
    tolerance exclusion, equidistant tie -> backward, same-instant dedup
    -> max right_order wins, keyless entity -> null."""
    from spark_pit.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 1, 1, 2],
                "eid": [1, 2, 3, 4, 9, 5],
                "ts": [_t(10), _t(14), _t(30), _t(50), _t(12), _t(10)],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 1],
                "sid": [100, 101, 102, 103],
                "sts": [_t(8), _t(8), _t(16), _t(40)],
                "v": [1.0, 2.0, 3.0, 4.0],
            }
        )
    )
    out = (
        asof_join_nearest(
            left, right, ["k"], "ts", "sts", ["sid", "v"],
            tolerance_us=6_000_000, right_order="sid",
        )
        .toPandas()
        .set_index("eid")
    )
    # duplicate instant t(8): sid=101 (max right_order) carries its v=2.0
    assert out.loc[1, "asof_sid"] == 101 and out.loc[1, "asof_v"] == 2.0
    assert out.loc[1, "asof_dir"] == "backward"
    assert out.loc[2, "asof_sid"] == 102 and out.loc[2, "asof_dir"] == "forward"
    assert out.loc[2, "asof_diff_us"] == 2_000_000
    # both neighbors beyond tolerance
    assert pd.isna(out.loc[3, "asof_sid"]) and pd.isna(out.loc[3, "asof_dir"])
    assert pd.isna(out.loc[4, "asof_sid"])
    # equidistant (8 vs 16 around 12) -> backward preferred
    assert out.loc[9, "asof_sid"] == 101 and out.loc[9, "asof_dir"] == "backward"
    # entity with no snapshots
    assert pd.isna(out.loc[5, "asof_sid"])


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """Randomized parity with pd.merge_asof(direction='nearest',
    tolerance=...) on a single entity (pandas breaks equidistant ties
    backward too — Timedelta semantics)."""
    from spark_pit.operators.asof import asof_join_nearest

    rng = np.random.default_rng(7)
    lts = np.sort(rng.choice(np.arange(0, 5000), size=120, replace=False))
    rts = np.sort(rng.choice(np.arange(0, 5000), size=40, replace=False))
    lpd = pd.DataFrame({"k": 1, "eid": np.arange(120), "ts": [_t(int(s)) for s in lts]})
    rpd = pd.DataFrame({"k": 1, "sid": np.arange(40), "sts": [_t(int(s)) for s in rts]})
    tol_s = 60
    want = pd.merge_asof(
        lpd, rpd.rename(columns={"sts": "ts"}), on="ts", by="k",
        direction="nearest", tolerance=pd.Timedelta(seconds=tol_s),
    )
    got = (
        asof_join_nearest(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd),
            ["k"], "ts", "sts", ["sid"], tolerance_us=tol_s * 1_000_000,
        )
        .toPandas()
        .sort_values("eid")
        .reset_index(drop=True)
    )
    assert np.array_equal(
        want["sid"].to_numpy(dtype=float), got["asof_sid"].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_asof_forward_strict_and_inclusive(spark):
    """Forward lookahead: strictly-after skips the same-instant snapshot,
    at-or-after takes it; among equal future timestamps the EARLIEST
    right_order wins; trailing events get null."""
    from spark_pit.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "eid": [1, 2, 3],
                      "ts": [_t(10), _t(15), _t(99)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "sid": [7, 5, 6],
                      "sts": [_t(10), _t(20), _t(20)]})
    )
    kw = dict(on=["k"], left_ts="ts", right_ts="sts",
              value_cols=["sid"], right_order="sid")
    strict = (
        asof_join_forward(left, right, strict=True, **kw)
        .toPandas().set_index("eid")
    )
    incl = (
        asof_join_forward(left, right, strict=False, **kw)
        .toPandas().set_index("eid")
    )
    # eid1 @10: strict skips the t=10 snapshot -> next is t=20, min sid 5
    assert strict.loc[1, "next_sid"] == 5
    assert incl.loc[1, "next_sid"] == 7          # at-or-after takes t=10
    assert strict.loc[2, "next_sid"] == 5 and incl.loc[2, "next_sid"] == 5
    assert pd.isna(strict.loc[3, "next_sid"]) and pd.isna(incl.loc[3, "next_sid"])


def test_asof_join_multi_one_shuffle_and_equivalence(spark, sf_dir):
    """The multi-group PIT join must (a) equal two independent
    asof_join_window calls column-for-column and (b) compile to ONE sort
    exchange over the event stream, not K."""
    import re

    from pyspark.sql import functions as F

    from spark_pit.operators.asof import asof_join_multi, asof_join_window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"), F.col("value").alias("pval"),
    )
    sig = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("sts"), F.col("event_id").alias("sid"),
    )
    multi = asof_join_multi(
        left,
        [("p", pur, "pts", ["pid", "pval"], "pid"),
         ("s", sig, "sts", ["sid"], "sid")],
        ["user_id"], "ts",
    ).toPandas().set_index("event_id").sort_index()
    a = asof_join_window(
        left, pur, ["user_id"], "ts", "pts", ["pid", "pval"],
        strict=True, right_order="pid",
    ).toPandas().set_index("event_id").sort_index()
    b = asof_join_window(
        left, sig, ["user_id"], "ts", "sts", ["sid"],
        strict=True, right_order="sid",
    ).toPandas().set_index("event_id").sort_index()
    assert multi["p_pid"].equals(a["asof_pid"])
    assert multi["p_pval"].equals(a["asof_pval"])
    assert multi["s_sid"].equals(b["asof_sid"])
    # plan: exactly one Window sort over the unioned stream
    import io
    from contextlib import redirect_stdout

    plan_df = asof_join_multi(
        left,
        [("p", pur, "pts", ["pid", "pval"], "pid"),
         ("s", sig, "sts", ["sid"], "sid")],
        ["user_id"], "ts",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    n_windows = len(re.findall(r"\(\d+\) Window\b", buf.getvalue()))
    assert n_windows == 1, buf.getvalue()[:2000]
