"""Similarity-search operators vs a NumPy brute-force oracle."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from spark_pit.operators.similarity import ann_lsh_topk, cosine_topk

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from check_oracle import compare  # noqa: E402


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(42)
    n, d = 40, 16
    mat = rng.standard_normal((n, d)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [list(map(float, v)) for v in mat]})
    return spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>"), mat


def _numpy_topk(mat: np.ndarray, k: int) -> dict[int, list[int]]:
    m = mat.astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    cos = (m @ m.T) / np.outer(norms, norms)
    np.fill_diagonal(cos, -np.inf)
    out = {}
    for q in range(len(m)):
        order = sorted(range(len(m)), key=lambda j: (-cos[q, j], j))
        out[q] = order[:k]
    return out


def test_cosine_topk_matches_numpy(vecs):
    df, mat = vecs
    got = cosine_topk(df, "vec_id", "embedding", k=3).toPandas()
    want = _numpy_topk(mat, 3)
    for q, grp in got.groupby("qid"):
        ids = grp.sort_values("rk")["nid"].tolist()
        assert ids == want[q], f"query {q}"


def test_cosine_values(vecs):
    df, mat = vecs
    got = cosine_topk(df, "vec_id", "embedding", k=3).toPandas()
    m = mat.astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    for _, r in got.iterrows():
        want = float(m[int(r.qid)] @ m[int(r.nid)] / (norms[int(r.qid)] * norms[int(r.nid)]))
        assert r.cos == pytest.approx(want, abs=1e-6)


def test_ann_lsh_subset_of_exact_cosines(vecs):
    """ANN results carry correct cosine values; every reported neighbor is in
    the same LSH bucket (approximate recall, exact scores)."""
    df, mat = vecs
    got = ann_lsh_topk(df, "vec_id", "embedding", k=3, n_planes=4).toPandas()
    m = mat.astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    assert len(got) > 0
    for _, r in got.iterrows():
        want = float(m[int(r.qid)] @ m[int(r.nid)] / (norms[int(r.qid)] * norms[int(r.nid)]))
        assert r.cos == pytest.approx(want, abs=1e-6)
    # ranks are contiguous from 1 per query
    for _, grp in got.groupby("qid"):
        assert grp.sort_values("rk")["rk"].tolist() == list(range(1, len(grp) + 1))


def test_ivf_topk_exact_scores_and_planted_recall(spark):
    """IVF results carry exact cosine values; planted near-identical pairs
    (same cell by construction) are always retrieved as the top neighbor."""
    from spark_pit.operators.similarity import ivf_topk

    rng = np.random.default_rng(9)
    n, d = 50, 8
    mat = rng.standard_normal((n, d))
    for i in range(10):  # rows 40..49 jitter rows 0..9
        mat[40 + i] = mat[i] + rng.standard_normal(d) * 0.01
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [list(map(float, v)) for v in mat]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    got = ivf_topk(df, "vec_id", "embedding", k=3, n_cells=4, nprobe=2).toPandas()
    m = mat.astype(np.float64)
    # exactness of reported scores (float32 storage -> compare vs float32 cast)
    m32 = mat.astype(np.float32).astype(np.float64)
    norms = np.linalg.norm(m32, axis=1)
    for _, r in got.iterrows():
        want = float(m32[int(r.qid)] @ m32[int(r.nid)] / (norms[int(r.qid)] * norms[int(r.nid)]))
        assert r.cos == pytest.approx(want, abs=1e-6)
    top1 = {q: grp.sort_values("rk")["nid"].iloc[0] for q, grp in got.groupby("qid")}
    hits = sum(1 for i in range(10) if top1.get(40 + i) == i or top1.get(i) == 40 + i)
    assert hits >= 9  # jittered twins share a cell; near-total recall


def test_embedding_neardup_lsh_matches_exact(spark, tmp_path):
    """The LSH-bucketed near-dup path must reproduce the all-pairs cosine
    oracle (``Q_EMBEDDING_NEARDUP_SQL`` on DuckDB) on data with planted
    near-duplicates (recall 1.0 at 16 bands × 4 bits for cosine ≥ 0.9
    pairs). All-zero vectors have no cosine (0/0 is NULL in DuckDB) and
    match nothing on either side."""
    import duckdb

    from spark_pit.operators.similarity import embedding_neardup
    from spark_pit.queries import Q_EMBEDDING_NEARDUP_SQL

    rng = np.random.default_rng(3)
    n, d = 62, 16
    mat = rng.standard_normal((n, d))
    # plant near-dups: rows 40..59 are jittered copies of rows 0..19
    for i in range(20):
        mat[40 + i] = mat[i] + rng.standard_normal(d) * 0.02
    mat[60:] = 0.0  # two all-zero vectors
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [list(map(float, v)) for v in mat]})
    # both engines read the same parquet file, so both see the float32
    # values Spark holds
    path = str(tmp_path / "embeddings")
    spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").write.parquet(path)
    got = embedding_neardup(
        spark.read.parquet(path), "vec_id", "embedding", threshold=0.9
    ).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    want = con.execute(Q_EMBEDDING_NEARDUP_SQL).df()
    g = got.sort_values("vec_id").reset_index(drop=True)
    assert g["is_dup"].sum() >= 20
    assert g.loc[g["vec_id"] >= 60, "is_dup"].tolist() == [False, False]
    assert compare("embedding_neardup", got, want) == []


@pytest.mark.parametrize(
    "name", ["cosine_topk", "ann_lsh", "knn_label_fractions", "knn_ann"]
)
def test_cosine_topk_zero_vectors_match_oracle(spark, tmp_path, name):
    """All-zero vectors and an exact-duplicate pair through the registered
    cosine top-k queries: a pair with a zero vector has no cosine (0/0 is
    NULL in DuckDB), ranks last and breaks ties by neighbor id, so Spark
    must match the oracle SQL instead of raising DIVIDE_BY_ZERO under
    ANSI mode. Both engines read one planted 64-dim parquet file."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_pit.queries import ORACLES, QUERIES

    rng = np.random.default_rng(11)
    n, d = 40, 64
    mat = rng.standard_normal((n, d)).astype(np.float32)
    mat[[10, 11]] = 0.0  # all-zero: a training (even) and a query-only id
    mat[22] = mat[20]  # exact duplicates: tied cosines to every query
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(mat.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    got = QUERIES[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    want = con.execute(ORACLES[name]).df()
    assert compare(name, got, want) == []
    if name == "cosine_topk":
        zero_q = got[got["qid"] == 11].sort_values("rk")
        assert zero_q["cos"].isna().all() and zero_q["nid"].tolist() == [0, 1, 2, 3, 4]
        twins = got[(got["qid"] == 20) & (got["rk"] == 1)]
        assert twins["nid"].tolist() == [22] and twins["cos"].iloc[0] == pytest.approx(1.0)


def test_knn_ann_recall_vs_exact(spark, sf_dir):
    """Multi-probe LSH KNN: every emitted neighbor is a true training
    vector, fractions are k-denominated, and probe recall recovers most
    of the exact operator's top-k mass."""
    from spark_pit.operators.similarity import (
        knn_label_fractions,
        knn_label_fractions_ann,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = knn_label_fractions(
        emb, "vec_id", "embedding", "label", train_pred=lambda c: c % 2 == 0, k=5
    ).toPandas()
    ann = knn_label_fractions_ann(
        emb, "vec_id", "embedding", "label", train_pred=lambda c: c % 2 == 0,
        k=5, n_planes=6,
    ).toPandas()
    assert (ann["frac"] <= 1.0 + 1e-9).all() and (ann["frac"] > 0).all()
    # total mass: exact emits exactly 1.0 per query; ANN ≤ 1.0 per query
    per_q = ann.groupby("qid")["frac"].sum()
    assert (per_q <= 1.0 + 1e-9).all()
    # aggregate recall of top-k mass above 60% with 7 probes of 64 buckets
    assert per_q.sum() / len(exact.groupby("qid")) > 0.6


def test_farthest_point_sample_line_and_ties(spark):
    """On a 1-D line {0, 1, 10, 20} (k=3): seed=min id (point 0), then the
    far end (20), then the midpoint maximizing min-dist (10: min(100,100)
    beats 1: min(1,361)). A symmetric tie prefers the smaller id."""
    import pandas as pd

    from spark_pit.operators.similarity import farthest_point_sample

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2, 3], "vec": [[0.0], [1.0], [10.0], [20.0]]})
    )
    out = farthest_point_sample(df, "vec_id", "vec", k=3).toPandas()
    assert list(out["vec_id"]) == [0, 3, 2]
    assert pd.isna(out["dist2"][0]) and list(out["dist2"][1:]) == [400.0, 100.0]

    # two equidistant candidates (-5 and +5 around seed 0) -> smaller id
    df2 = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2], "vec": [[0.0], [5.0], [-5.0]]})
    )
    out2 = farthest_point_sample(df2, "vec_id", "vec", k=2).toPandas()
    assert list(out2["vec_id"]) == [0, 1]
    assert out2["dist2"][1] == 25.0


def test_farthest_point_sample_k_exceeds_population(spark):
    """k > n ends the trace at n rows instead of crashing."""
    import pandas as pd

    from spark_pit.operators.similarity import farthest_point_sample

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1], "vec": [[0.0], [3.0]]})
    )
    out = farthest_point_sample(df, "vec_id", "vec", k=5).toPandas()
    assert list(out["vec_id"]) == [0, 1] and len(out) == 2


def test_pq_codes_quantization(spark):
    """PQ: planted twins quantize to their source's exact code, error is
    the exact squared reconstruction error, train_fraction sampling still
    yields a usable codebook, and a non-divisible dim raises."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spark_pit.datagen import blobs_table
    from spark_pit.operators.similarity import pq_codes

    emb = blobs_table(spark, plant_twins=10)
    codes = pq_codes(emb, "vec_id", "embedding", m=4, codebook_bits=4)
    pdf = codes.toPandas().set_index("vec_id")
    assert len(pdf) == 170
    assert (pdf["pq_code"].apply(len) == 4).all()
    assert pdf["pq_sq_err"].max() < 4.0
    for t in range(10):
        assert tuple(pdf.loc[10000 + t, "pq_code"]) == tuple(pdf.loc[t, "pq_code"])
        assert pdf.loc[10000 + t, "pq_sq_err"] == pdf.loc[t, "pq_sq_err"]
    # codes are in range [0, 16)
    allc = np.concatenate(pdf["pq_code"].to_numpy())
    assert allc.min() >= 0 and allc.max() < 16
    # sampled training still reconstructs within the blob-noise bound
    sampled = pq_codes(
        emb, "vec_id", "embedding", m=4, codebook_bits=4, train_fraction=0.5
    )
    assert sampled.agg(F.max("pq_sq_err")).first()[0] < 4.0
    with _pytest.raises(ValueError):
        pq_codes(emb, "vec_id", "embedding", m=3)


def test_pq_topk_adc(spark):
    """ADC top-k: planted-twin sources are recalled at rank 1 (their code
    achieves the per-subspace minimum, so no other code can beat it), ADC
    distances are non-negative and rounded, and k bounds the fan-out."""
    from pyspark.sql import functions as F

    from spark_pit.datagen import blobs_table
    from spark_pit.operators.similarity import pq_topk

    emb = blobs_table(spark, plant_twins=8)
    db = emb.where(F.col("vec_id") < 10000)
    qs = emb.where(F.col("vec_id") >= 10000)
    pdf = pq_topk(db, qs, "vec_id", "embedding", k=3).toPandas()
    assert len(pdf) == 24  # 8 queries x k=3
    assert (pdf["adc_dist"] >= 0).all()
    assert pdf["rk"].isin([1, 2, 3]).all()
    for t in range(8):
        mine = pdf[pdf["qid"] == 10000 + t]
        assert t in set(mine["nid"]), t  # source recalled in top-3


def test_negative_sample_leakage_guard_and_determinism(spark):
    """Negatives never come from the anchor's own group, the draw is
    deterministic across partitionings, and each anchor gets at most k
    negatives with distinct probe ranks."""
    from spark_pit.operators.similarity import negative_sample

    rows = [(i, f"g{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = negative_sample(df, "id", "grp", k=3, n_buckets=16).collect()

    by_anchor = {}
    grp = dict(rows)
    for r in out:
        assert r["neg_group"] != grp[r["id"]]          # leakage guard
        assert grp[r["neg_id"]] == r["neg_group"]
        by_anchor.setdefault(r["id"], []).append(r["j"])
    for js in by_anchor.values():
        assert len(js) == len(set(js)) <= 3
    assert len(by_anchor) >= 190                        # near-total coverage

    # partitioning invariance: same rows, different layout -> same draw
    out2 = negative_sample(df.repartition(13), "id", "grp", k=3, n_buckets=16).collect()
    key = lambda r: (r["id"], r["j"], r["neg_id"])
    assert sorted(map(key, out)) == sorted(map(key, out2))


def test_negative_sample_autosizes_buckets(spark):
    """Regression (round-6 advice): with n_buckets omitted, B must derive
    from the input size — B = max(64, ceil(N/16)) — so the bucket-join
    intermediate stays ~16 candidates per probe at any N instead of
    N/64 blowing up past ~10M rows (the countmin fixed-width class of
    bug). Pins: (a) the autosized draw equals an explicit B of the same
    formula, (b) small inputs floor at B=64, (c) B grows with N."""
    from spark_pit.operators.similarity import negative_sample

    small = spark.createDataFrame(
        [(i, f"g{i % 4}") for i in range(200)], "id long, grp string"
    )
    # (b) floor: 200 rows -> ceil(200/16)=13 < 64 -> B=64
    a = negative_sample(small, "id", "grp", k=2).collect()
    b = negative_sample(small, "id", "grp", k=2, n_buckets=64).collect()
    key = lambda r: (r["id"], r["j"], r["neg_id"])
    assert sorted(map(key, a)) == sorted(map(key, b))

    big = spark.createDataFrame(
        [(i, f"g{i % 4}") for i in range(4000)], "id long, grp string"
    )
    # (a)+(c) 4000 rows -> B=ceil(4000/16)=250, NOT the old constant 64
    c = negative_sample(big, "id", "grp", k=2).collect()
    d = negative_sample(big, "id", "grp", k=2, n_buckets=250).collect()
    e = negative_sample(big, "id", "grp", k=2, n_buckets=64).collect()
    assert sorted(map(key, c)) == sorted(map(key, d))
    assert sorted(map(key, c)) != sorted(map(key, e))
