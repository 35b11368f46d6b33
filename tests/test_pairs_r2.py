"""Round-2 descriptor operators: KSCTriad, DistancePair (alphabet registry),
mean imputer, GaussianMixture — brute-force Python replicas as ground truth
(the reference's own per-sequence loop semantics, feature.py cited per op)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from spark_pit.alphabets import EVENT_ALPHABETS, PROTEIN_ALPHABETS


def _seq_df(spark, seqs: dict[int, str]):
    rows = [
        (e, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i, tok)
        for e, s in seqs.items()
        for i, tok in enumerate(s.split())
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long, event_type string")


SEQS = {
    1: "click view click purchase view error click view click view",
    2: "error error click view purchase signup click view",
    3: "click view purchase",  # too short for gap=1 (needs >= 5)
}


def test_ksctriad_matches_reference_loop(spark):
    from spark_pit.operators.pairs import GROUP_MAP_DEFAULT, ksctriad

    gap = 1
    out = ksctriad(_seq_df(spark, SEQS), "user_id", "ts", "event_type",
                   gap=gap, tiebreak="event_id").toPandas()
    assert set(out["user_id"]) == {1, 2}  # entity 3 fails the 2g+3 guard
    # brute force per CalculateKSCTriad (feature.py:2052-2068): myDict is
    # pre-initialized with EVERY triad of the reduced alphabet at 0, so the
    # min is over the full dense vector (0 unless all |groups|^3 present)
    full_space = len(set(GROUP_MAP_DEFAULT.values())) ** 3
    for ent, s in SEQS.items():
        toks = [GROUP_MAP_DEFAULT[t] for t in s.split()]
        if len(toks) < 2 * gap + 3:
            continue
        for g in range(gap + 1):
            cnt: dict[tuple, int] = {}
            for i in range(len(toks)):
                if i + 2 * g + 2 < len(toks):
                    key = (toks[i], toks[i + g + 1], toks[i + 2 * g + 2])
                    cnt[key] = cnt.get(key, 0) + 1
            mn = min(cnt.values()) if len(cnt) >= full_space else 0
            mx = max(cnt.values())
            sub = out[(out["user_id"] == ent) & (out["g"] == g)]
            assert len(sub) == len(cnt)
            for r in sub.itertuples():
                assert r.ksctriad == pytest.approx(
                    (cnt[(r.g_a, r.g_b, r.g_c)] - mn) / mx
                )


def test_distance_pair_matches_reference_loop(spark):
    from spark_pit.operators.pairs import distance_pair_freq

    alpha = EVENT_ALPHABETS["action2"]
    distance = 2
    out = distance_pair_freq(
        _seq_df(spark, SEQS), "user_id", "ts", "event_type",
        distance=distance, group_map=alpha, tiebreak="event_id",
    ).toPandas()
    # brute force per _DistancePair (feature.py:2697-2712)
    for ent, s in SEQS.items():
        toks = [alpha[t] for t in s.split()]
        L = len(toks)
        sub = out[out["user_id"] == ent]
        singles = {t: toks.count(t) / L for t in set(toks)}
        got0 = {r.tok_a: r.dp_freq for r in sub[sub["d"] == 0].itertuples()}
        assert got0 == pytest.approx(singles)
        for d in range(1, distance + 1):
            prs: dict[tuple, int] = {}
            for i in range(L - d):
                prs[(toks[i], toks[i + d])] = prs.get((toks[i], toks[i + d]), 0) + 1
            got = {
                (r.tok_a, r.tok_b): r.dp_freq
                for r in sub[sub["d"] == d].itertuples()
            }
            assert got == pytest.approx({k: v / (L - d) for k, v in prs.items()})


def test_alphabet_registry_shapes():
    # cp alphabet cluster counts match their names (feature.py:2574-2665)
    for name, n in [("cp20", 20), ("cp19", 19), ("cp14", 14), ("cp13", 13)]:
        alpha = PROTEIN_ALPHABETS[name]
        assert len(alpha) == 20  # total tokens mapped
        assert len(set(alpha.values())) == n
    assert len(set(PROTEIN_ALPHABETS["ctriad7"].values())) == 7
    assert len(set(PROTEIN_ALPHABETS["gaac5"].values())) == 5
    assert set(EVENT_ALPHABETS["identity5"]) == {
        "click", "error", "purchase", "signup", "view"
    }


def test_property_tables_zscale_channels(spark):
    """The real ZScale/AESNN3 tables (feature.py:1335-1362 / 998-1025) feed
    encode.property_channel per channel — the XMAP family with its actual
    parameters rather than the behavioral stand-in."""
    from spark_pit.alphabets import AESNN3, ZSCALE, property_tables
    from spark_pit.operators.encode import property_channel

    chans = property_tables(ZSCALE)
    assert set(chans) == {"z1", "z2", "z3", "z4", "z5"}
    df = spark.createDataFrame([(1, "A"), (2, "W"), (3, "-")], "i long, aa string")
    out = property_channel(df, "aa", chans["z2"], out="z2").toPandas().set_index("i")
    assert out.loc[1, "z2"] == -2.32 and out.loc[2, "z2"] == 3.94 and out.loc[3, "z2"] == 0.0
    assert len(property_tables(AESNN3)) == 3


def test_mean_impute_fills_with_entity_mean(spark):
    from spark_pit.operators.encode import mean_impute

    df = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, 2.0), (2, None), (2, 8.0)],
        "user_id long, v double",
    )
    out = mean_impute(df, "user_id", "v").toPandas().sort_values(
        ["user_id", "v_filled"]
    )
    assert out["v_filled"].tolist() == [1.0, 1.5, 2.0, 8.0, 8.0]


def test_mean_impute_all_null_entity_stays_null(spark):
    from spark_pit.operators.encode import mean_impute

    df = spark.createDataFrame([(1, None), (1, None)], "user_id long, v double")
    out = mean_impute(df, "user_id", "v").toPandas()
    assert out["v_filled"].isna().all()


def test_bisecting_kmeans_separates_blobs(spark):
    from spark_pit.operators.analysis import bisecting_kmeans_clusters

    rng = np.random.default_rng(11)
    rows = [(i, (rng.standard_normal(4) + (0.0 if i < 25 else 9.0)).tolist())
            for i in range(50)]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    out = bisecting_kmeans_clusters(df, "vid", "emb", k=2, seed=42).toPandas()
    a = set(out[out["vid"] < 25]["cluster"])
    b = set(out[out["vid"] >= 25]["cluster"])
    assert len(a) == 1 and len(b) == 1 and a != b


def test_pic_cuts_weak_bridge(spark):
    from spark_pit.operators.analysis import pic_clusters

    edges = [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0),
             (4, 5, 1.0), (4, 6, 1.0), (5, 6, 1.0), (3, 4, 0.05)]
    df = spark.createDataFrame(edges, "i long, j long, v double")
    out = pic_clusters(df, "i", "j", "v", k=2).toPandas()
    c = dict(zip(out["node"], out["cluster"]))
    assert c[1] == c[2] == c[3]
    assert c[4] == c[5] == c[6]
    assert c[1] != c[4]


def test_lda_topics_shapes(spark):
    from spark_pit.operators.analysis import lda_topics

    rng = np.random.default_rng(5)
    # two token-usage profiles -> count vectors
    rows = []
    for i in range(40):
        base = [20, 1, 1] if i < 20 else [1, 1, 20]
        rows.append((i, [float(v + rng.integers(0, 3)) for v in base]))
    df = spark.createDataFrame(rows, "vid long, counts array<double>")
    out = lda_topics(df, "vid", "counts", k=2, seed=42).toPandas()
    assert len(out) == 40
    assert set(out["topic"]) <= {0, 1}
    assert (out["topic_weight"] >= 0.5 - 1e-9).all()
    # the two profiles should land in different dominant topics
    assert set(out[out["vid"] < 20]["topic"]) != set(out[out["vid"] >= 20]["topic"])


def test_mean_shift_two_modes(spark):
    """Two 1-D blobs converge to two distinct modes; every point lands in
    its blob's cluster and the modes sit near the blob centers."""
    from spark_pit.operators.analysis import mean_shift_1d

    rng = np.random.default_rng(21)
    rows = [(1, i, float(rng.normal(0.0 if i < 30 else 50.0, 1.0)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "g long, node long, v double")
    out = mean_shift_1d(df, "g", "node", "v", bandwidth=8.0, n_iter=8).toPandas()
    a = out[out["node"] < 30]
    b = out[out["node"] >= 30]
    assert a["cluster"].nunique() == 1 and b["cluster"].nunique() == 1
    assert a["cluster"].iloc[0] != b["cluster"].iloc[0]
    assert abs(a["mode"].mean() - 0.0) < 2.0 and abs(b["mode"].mean() - 50.0) < 2.0


def test_gmm_separates_two_blobs(spark):
    from spark_pit.operators.analysis import gmm_clusters

    rng = np.random.default_rng(7)
    # unit-variance blobs: near-zero variance degenerates EM covariance
    rows = [(i, (rng.standard_normal(4) + (0.0 if i < 30 else 8.0)).tolist())
            for i in range(60)]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    out = gmm_clusters(df, "vid", "emb", k=2, seed=42).toPandas()
    a = set(out[out["vid"] < 30]["cluster"])
    b = set(out[out["vid"] >= 30]["cluster"])
    assert len(a) == 1 and len(b) == 1 and a != b
    assert (out["max_prob"] > 0.99).all()


_AP_FIXTURE = (
    [(1, i, i * 0.125) for i in range(5)]
    + [(1, 5 + i, 50.0 + i * 0.125) for i in range(7)]
    + [(2, 0, 0.0), (2, 1, 0.25), (2, 2, 10.0), (3, 7, 3.5)]
)


def test_affinity_grouped_converges_per_blob(spark):
    """AP (grouped int64 kernel) at the converged horizon: one exemplar
    per blob in the unequal-blob entity, one cluster for the 2+1 entity,
    self-label for the singleton (fallback path)."""
    from spark_pit.operators.analysis import affinity_propagation_grouped

    df = spark.createDataFrame(_AP_FIXTURE, "g long, node long, v double")
    out = affinity_propagation_grouped(df, "g", "node", "v", n_iter=60).toPandas()
    e1 = out[out["g"] == 1].set_index("node")["cluster"]
    assert set(e1[e1.index < 5]) == {2}
    assert set(e1[e1.index >= 5]) == {8}
    assert set(out[out["g"] == 2]["cluster"]) == {0}
    assert out[out["g"] == 3]["cluster"].tolist() == [7]


# (g, node, cluster) of affinity_propagation_grouped at two
# mid-oscillation horizons, taken where a decimal-DataFrame evaluation of
# the same recurrence agreed with the kernel row for row. Entity 4 (1/64-grid
# coordinates, exact at scale 6) tells the halving's rounding apart: rounding
# half toward zero instead of away from it leaves it without an exemplar at
# n_iter=3 (every node -> 0).
_AP_PIN_FIXTURE = _AP_FIXTURE + [
    (4, 0, 0.140625), (4, 1, 0.25), (4, 2, 0.453125), (4, 3, 0.515625)
]
_AP_PINS = {
    3: [0] * 12 + [0, 0, 0] + [7] + [1, 1, 1, 1],
    7: [0] * 12 + [0, 1, 1] + [7] + [1, 1, 2, 2],
}


@pytest.mark.parametrize("n_iter", sorted(_AP_PINS))
def test_affinity_grouped_pinned_mid_oscillation(spark, n_iter):
    """The scaled-int64 kernel reproduces the exact decimal recurrence at
    horizons where it has not converged (odd round counts exercise the
    half-away-from-zero requantization)."""
    from spark_pit.operators.analysis import affinity_propagation_grouped

    df = spark.createDataFrame(_AP_PIN_FIXTURE, "g long, node long, v double")
    out = (affinity_propagation_grouped(df, "g", "node", "v", n_iter=n_iter)
           .toPandas().sort_values(["g", "node"]))
    got = [tuple(map(int, r)) for r in out[["g", "node", "cluster"]].itertuples(index=False)]
    want = [(g, node, c) for (g, node, _), c in zip(_AP_PIN_FIXTURE, _AP_PINS[n_iter])]
    assert got == want


def test_tsne_sample_separates_blobs(spark):
    """Bounded-sample t-SNE: two 8-dim blobs land in two well-separated
    2-D groups; same seed → identical coordinates (deterministic sample
    AND deterministic optimizer)."""
    from spark_pit.operators.analysis import tsne_sample

    rng = np.random.default_rng(3)
    rows = [(f"v{i:03d}",
             (rng.standard_normal(8) + (0.0 if i < 30 else 12.0)).tolist())
            for i in range(60)]
    df = spark.createDataFrame(rows, "vid string, emb array<double>")
    out = tsne_sample(df, "vid", "emb", n_sample=60, n_iter=250, seed=42).toPandas()
    assert len(out) == 60
    Y = out.sort_values("vid")[["ts1", "ts2"]].to_numpy()
    blob = np.array([0] * 30 + [1] * 30)
    ca, cb = Y[blob == 0].mean(0), Y[blob == 1].mean(0)
    intra = max(np.linalg.norm(Y[blob == 0] - ca, axis=1).max(),
                np.linalg.norm(Y[blob == 1] - cb, axis=1).max())
    assert np.linalg.norm(ca - cb) > 1.5 * intra
    out2 = tsne_sample(df, "vid", "emb", n_sample=60, n_iter=250, seed=42).toPandas()
    assert out.sort_values("vid").reset_index(drop=True).equals(
        out2.sort_values("vid").reset_index(drop=True))


def test_robust_quantiles_hand_computed(spark):
    """{1,2,3,4}: p25 = 1.75 (h=0.75 between 1 and 2), p50 = 2.5,
    p75 = 3.25; odd-count entity {10,20,30}: exact elements."""
    import pandas as pd

    from spark_pit.operators.encode import robust_quantiles

    df = spark.createDataFrame(
        pd.DataFrame({
            "user_id": [1, 1, 1, 1, 2, 2, 2],
            "v": [1.0, 2.0, 3.0, 4.0, 10.0, 20.0, 30.0],
        })
    )
    out = robust_quantiles(df, "user_id", "v").toPandas().set_index("user_id")
    assert out.loc[1, "n"] == 4
    assert (out.loc[1, ["p25", "p50", "p75"]] == [1.75, 2.5, 3.25]).all()
    assert (out.loc[2, ["p25", "p50", "p75"]] == [15.0, 20.0, 25.0]).all()


def test_winsorize_stats_clips_outlier(spark):
    """10 values 1..9 + outlier 1000: ceil(.05*10)=1 -> lo bound 1,
    ceil(.95*10)=10 -> wait, rank 10 IS the outlier; use 20 values so the
    bound excludes it: 19 ones..19s + 1000 -> hi bound = rank 19 value."""
    import pandas as pd

    from spark_pit.operators.encode import winsorize_stats

    vals = [float(i) for i in range(1, 20)] + [1000.0]
    df = spark.createDataFrame(
        pd.DataFrame({"user_id": 1, "v": vals})
    )
    out = winsorize_stats(df, "user_id", "v").toPandas().iloc[0]
    assert out["n"] == 20
    assert out["lo_bound"] == 1.0 and out["hi_bound"] == 19.0
    # clipped sum = sum(1..19) + 19 = 190 + 19 = 209 -> mean 10.45
    assert out["winsorized_mean"] == 10.45
