from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BIG_ID = 2**53 + 1  # the first integer a float64 cannot hold


@pytest.fixture(scope="session")
def spark():
    from spark_pit.session import get_spark

    s = get_spark(app_name="spark_pit_tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def exact_ids(df) -> pd.DataFrame:
    """toPandas with the nullable id as a string: pandas holds a nullable
    long as float64, which would round ids above 2^53."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "asof_snapshot_id", F.col("asof_snapshot_id").cast("string")
    ).toPandas()


def assert_same_pit(a: pd.DataFrame, b: pd.DataFrame):
    """Two ``exact_ids`` frames of PIT features hold the same rows: floats
    and the ``wc`` arrays at rtol/atol 1e-12, every other column exactly.
    Rows pair up by (user_id, ts) and, where present, event_id; ``a`` must
    match the 2^53+1 snapshot somewhere."""
    assert (a["asof_snapshot_id"] == str(BIG_ID)).any()
    assert list(a.columns) == list(b.columns)
    keys = [c for c in ("user_id", "ts", "event_id") if c in a.columns]
    a = a.sort_values(keys).reset_index(drop=True)
    b = b.sort_values(keys).reset_index(drop=True)
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
