"""1-D banded range joins (contact_edges, half_exposure, shell_composition)
against a pandas brute force on a planted fixture: pairs at exactly the
cutoff, negative coordinates, coordinates on exact cell multiples, a
one-point entity and a NULL coordinate (which matches nothing)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spark_pit.operators.graph import contact_edges
from spark_pit.operators.rangejoin import half_exposure, shell_composition

CUTOFF = 0.5  # contact cutoff, HSE radius and shell width
N_SHELLS = 3  # shell reach 1.5


@pytest.fixture(scope="module")
def planted(spark):
    fixed = [
        -1.25,  # negative, off the cell grid
        -1.0,   # negative cell multiple; exactly CUTOFF from -0.5
        -0.5,
        0.0,    # exactly CUTOFF from -0.5 and 0.5
        0.5,
        0.75,
        1.5,    # exactly the shell reach from 0.0: outside every shell
        2.0,
        None,   # NULL coordinate
    ]
    rows = [(1, i, "abc"[i % 3], v) for i, v in enumerate(fixed)]
    rng = np.random.default_rng(5)
    for i, v in enumerate(rng.uniform(-3, 3, size=30)):
        rows.append((1 + 2 * (i % 2), 100 + i, "abc"[i % 3], float(v)))
    rows.append((3, 200, "a", 1.0))
    rows.append((3, 201, "b", 1.0))  # distance 0 to its twin
    rows.append((2, 0, "a", 0.25))  # the one-point entity
    pdf = pd.DataFrame(rows, columns=["ent", "nid", "tok", "x"])
    df = spark.createDataFrame(pdf, schema="ent long, nid long, tok string, x double")
    return df, pdf


def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every ordered (n, m) pair of distinct nodes in one entity, NULL
    coordinates dropped."""
    p = pdf.dropna(subset=["x"])
    j = p.merge(p, on="ent", suffixes=("_n", "_m"))
    j = j[j["nid_n"] != j["nid_m"]]
    return j.assign(d=(j["x_m"] - j["x_n"]).abs())


def test_contact_edges_matches_brute_force(planted):
    df, pdf = planted
    got = {
        (r.ent, r.a, r.b)
        for r in contact_edges(df, "ent", "nid", "x", CUTOFF).toPandas().itertuples()
    }
    j = _pairs(pdf)
    j = j[(j["nid_n"] < j["nid_m"]) & (j["d"] <= CUTOFF)]
    want = set(zip(j["ent"], j["nid_n"], j["nid_m"]))
    assert (1, 1, 2) in want and (1, 2, 3) in want  # the exact-cutoff pairs
    assert got == want


def test_half_exposure_matches_brute_force(planted):
    df, pdf = planted
    got = (
        half_exposure(df, "ent", "nid", "x", CUTOFF)
        .toPandas()
        .set_index(["ent", "node"])
        .sort_index()
    )
    j = _pairs(pdf)
    j = j[j["d"] <= CUTOFF]
    up = j[j["x_m"] > j["x_n"]].groupby(["ent", "nid_n"]).size()
    down = j[j["x_m"] < j["x_n"]].groupby(["ent", "nid_n"]).size()
    want = pd.DataFrame(index=pd.MultiIndex.from_frame(pdf[["ent", "nid"]]))
    want["hse_up"] = [int(up.get(k, 0)) for k in want.index]
    want["hse_down"] = [int(down.get(k, 0)) for k in want.index]
    want = want.sort_index()
    assert list(got.index) == list(want.index)  # every node, NULL one too
    assert got.loc[(1, 8)].tolist() == [0, 0]
    assert got.loc[(2, 0)].tolist() == [0, 0]
    np.testing.assert_array_equal(got["hse_up"], want["hse_up"])
    np.testing.assert_array_equal(got["hse_down"], want["hse_down"])


def test_shell_composition_matches_brute_force(planted):
    df, pdf = planted
    probe_ids = [0, 1, 3, 6, 8, 100, 101, 200]
    probes = df.where(
        ((df["ent"] != 2) & df["nid"].isin(probe_ids)) | (df["ent"] == 2)
    ).selectExpr("ent", "nid as probe_id", "x")
    got = shell_composition(
        df, probes, entity="ent", coord="x", token_col="tok", probe_id="probe_id",
        shell_width=CUTOFF, n_shells=N_SHELLS,
    ).toPandas()

    p = pdf.dropna(subset=["x"])
    q = p[((p["ent"] != 2) & p["nid"].isin(probe_ids)) | (p["ent"] == 2)]
    j = q.merge(p, on="ent", suffixes=("_q", "_p"))  # the probe's own row too
    j = j.assign(d=(j["x_q"] - j["x_p"]).abs())
    j = j[j["d"] < CUTOFF * N_SHELLS]
    j = j.assign(shell=np.floor(j["d"] / CUTOFF).astype(int))
    want = j.groupby(["nid_q", "ent", "shell", "tok_p"]).size()
    # every probe but the NULL one emits
    assert len(got[["ent", "probe_id"]].drop_duplicates()) == len(q)
    assert dict(zip(zip(got["probe_id"], got["ent"], got["shell"], got["tok"]), got["n"])) == (
        want.to_dict()
    )
    tot = got.groupby(["ent", "probe_id", "shell"])["n"].transform("sum")
    np.testing.assert_allclose(got["freq"], got["n"] / tot, rtol=0, atol=0)
