"""Analysis plane (SURVEY.md §2.9: iAnalysis / MarkvCluster → MLlib).

The reference wraps sklearn eagerly per call (`iAnalysis.kmeans`
feature.py:4779-4807, PCA feature.py:4952-4960) and runs MCL as a dense
NumPy loop (feature.py:5083-5154). Spark-first mapping: ``pyspark.ml``
estimators over an assembled vector column, and plain ``corr`` aggregates
for the correlation plane. The sklearn-only clusterer rows get
BisectingKMeans (Agglomerative), PIC (Spectral) and graph.dbscan_clusters
(DBSCAN); MeanShift, AffinityPropagation and MCL are NumPy functions run by
one grouped kernel per entity (MCL's: the whole graph) inside the plan, so
building them launches no job."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit.operators.graph import Graph, _per_entity, kernel_budget


def _assemble(df: DataFrame, vec_col: str):
    from pyspark.ml.functions import array_to_vector

    return df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))


def kmeans_clusters(
    df: DataFrame, id_col: str, vec_col: str, k: int = 4, seed: int = 42
) -> DataFrame:
    """iAnalysis.kmeans (feature.py:4779-4792) → ml.clustering.KMeans.
    Returns (id, cluster)."""
    from pyspark.ml.clustering import KMeans

    feats = _assemble(df, vec_col)
    model = KMeans(k=k, seed=seed, featuresCol="__features").fit(feats)
    return model.transform(feats).select(id_col, F.col("prediction").alias("cluster"))


def gmm_clusters(
    df: DataFrame, id_col: str, vec_col: str, k: int = 3, seed: int = 42
) -> DataFrame:
    """iAnalysis.GM (feature.py:4809-4822, sklearn GaussianMixture) →
    ml.clustering.GaussianMixture. Returns (id, cluster, max_prob) —
    the hard assignment plus its posterior, mirroring the reference's
    fit_predict surface. Init is platform-dependent → rows-only query."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.functions import vector_to_array

    feats = _assemble(df, vec_col)
    model = GaussianMixture(k=k, seed=seed, featuresCol="__features").fit(feats)
    return model.transform(feats).select(
        id_col,
        F.col("prediction").alias("cluster"),
        F.round(F.array_max(vector_to_array("probability")), 6).alias("max_prob"),
    )


def pca_embeddings(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8
) -> DataFrame:
    """Notebook second pass (ESM_embed.ipynb:592-594 PCA(100)) →
    ml.feature.PCA. Returns (id, pca array<double>)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import vector_to_array

    feats = _assemble(df, vec_col)
    try:
        model = PCA(k=k, inputCol="__features", outputCol="__pca").fit(feats)
    except Exception:
        # one retry: MLlib .fit has flaked transiently under long-session
        # executor contention (round-3/4 observation — clean in isolation
        # and on immediate rerun both times)
        model = PCA(k=k, inputCol="__features", outputCol="__pca").fit(feats)
    return model.transform(feats).select(
        id_col, vector_to_array("__pca").alias("pca")
    )


def bisecting_kmeans_clusters(
    df: DataFrame, id_col: str, vec_col: str, k: int = 4, seed: int = 42
) -> DataFrame:
    """The distributed analogue of the reference's sklearn Agglomerative
    clustering row (feature.py:4824-4836): MLlib BisectingKMeans — a
    hierarchical (divisive rather than agglomerative) clusterer, the MLlib
    answer to hierarchy-shaped clustering at scale. Returns (id, cluster)."""
    from pyspark.ml.clustering import BisectingKMeans

    feats = _assemble(df, vec_col)
    model = BisectingKMeans(k=k, seed=seed, featuresCol="__features").fit(feats)
    return model.transform(feats).select(id_col, F.col("prediction").alias("cluster"))


def pic_clusters(
    edges: DataFrame,
    src: str = "i",
    dst: str = "j",
    weight: str = "v",
    k: int = 2,
    max_iter: int = 20,
) -> DataFrame:
    """The distributed analogue of the reference's sklearn SpectralClustering
    row (feature.py:4852-4864): MLlib PowerIterationClustering — literally
    the power-iteration approximation of spectral clustering on an affinity
    graph. Input: symmetric weighted edges; returns (node, cluster)."""
    from pyspark.ml.clustering import PowerIterationClustering

    aff = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
        F.col(weight).cast("double").alias("weight"),
    )
    pic = PowerIterationClustering(k=k, maxIter=max_iter, weightCol="weight")
    return pic.assignClusters(aff).select(
        F.col("id").alias("node"), F.col("cluster")
    )


def lda_topics(
    df: DataFrame, id_col: str, vec_col: str, k: int = 2, seed: int = 42
) -> DataFrame:
    """iAnalysis.LDA (feature.py:4968-4981, sklearn LatentDirichletAllocation
    over the descriptor matrix) → ml.clustering.LDA over a nonnegative
    count-vector column. Returns (id, topic, topic_weight) for the argmax
    topic — the reference's transform() surface reduced to its hard
    assignment + weight."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.functions import vector_to_array

    feats = _assemble(df, vec_col)
    model = LDA(k=k, seed=seed, maxIter=20, featuresCol="__features").fit(feats)
    out = model.transform(feats).withColumn(
        "__t", vector_to_array("topicDistribution")
    )
    return out.select(
        id_col,
        F.expr("array_position(__t, array_max(__t)) - 1").cast("int").alias("topic"),
        F.round(F.array_max("__t"), 6).alias("topic_weight"),
    )


def _first_fit(xf: np.ndarray, q: np.ndarray, fits, i: np.ndarray) -> np.ndarray:
    """Move each guess ``i`` to the first index whose ``fits(xf[i] − q)``
    holds; ``fits`` is false then true along the sorted ``xf``."""
    top = len(xf) - 1
    while True:
        dn = (i > 0) & fits(xf[np.maximum(i - 1, 0)] - q)
        up = (i <= top) & ~fits(xf[np.minimum(i, top)] - q)
        if not (dn.any() or up.any()):
            return i
        i = i - dn + up


def mean_shift_nanos(xm: np.ndarray, n_iter: int, h: float) -> tuple[np.ndarray, np.ndarray]:
    """One entity's flat-kernel mean shift in int64 nano-units. ``xm`` holds
    the coordinates as exact DECIMAL(18,6) micros, ``x = xm/1e6``; from
    ``qn = floor(x·1e9 + 0.5)``, each step moves every point to the mean of
    the ORIGINAL points with ``abs(x − qn/1e9) <= h``: ``qn = floor(s/1e6 /
    c · 1e9 + 0.5)`` for their micro sum ``s`` and count ``c``, each float
    op correctly rounded as in the oracle's SQL (bit-exact while ``|s| <
    2^53``). A window is a ``searchsorted`` range, its edges moved onto the
    exact predicate (``fl(x − q)`` is monotone in x), summed from prefix
    sums; a point whose window is empty drops. Returns ``(idx, qn)``."""
    xs = np.sort(xm)
    xf, cs = xs / 1e6, np.concatenate([[0], np.cumsum(xs)])
    idx = np.arange(len(xm))
    qn = np.floor(xm / 1e6 * 1e9 + 0.5).astype(np.int64)
    for _ in range(n_iter):
        q = qn / 1e9
        lo = _first_fit(xf, q, lambda d: d >= -h, np.searchsorted(xf, q - h))
        hi = _first_fit(xf, q, lambda d: d > h, np.searchsorted(xf, q + h, "right"))
        keep = hi > lo
        idx, s, c = idx[keep], (cs[hi] - cs[lo])[keep], (hi - lo)[keep]
        qn = np.floor(s.astype(np.float64) / 1e6 / c * 1e9 + 0.5).astype(np.int64)
    return idx, qn


def mean_shift_labels(nodes: np.ndarray, qn: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(mode, cluster)`` of one entity's final iterates: the iterate
    rounded half up to micro units, and the smallest node whose iterate
    rounds half up to the same milli unit, with the oracle's double ops."""
    mb = np.floor((qn + 500_000).astype(np.float64) / 1e6).astype(np.int64)
    mode = np.floor((qn + 500).astype(np.float64) / 1000.0) / 1e6
    return mode, pd.Series(nodes).groupby(mb).transform("min").to_numpy()


def mean_shift_1d(
    points: DataFrame, entity: str, node_id: str, coord: str, bandwidth: float, n_iter: int = 8,
) -> DataFrame:
    """MeanShift analogue (reference iAnalysis MeanShift, sklearn row
    feature.py:4838-4864 family) on the engine's 1-D coordinate space:
    every point's position iterates to the mean of the ORIGINAL points
    within ``bandwidth`` (flat kernel), K fixed steps; points whose modes
    land in the same bandwidth-scale decimal bucket form a cluster
    (min node id = label). Returns (entity, node, mode, cluster).

    The iterates are int64 nano-units (:func:`mean_shift_nanos`). The one
    double→decimal cast, to DECIMAL(18,6), runs in the JVM, as Spark rounds
    the double's SHORTEST DECIMAL REPR where DuckDB rounds its binary value;
    the kernel gets the exact unscaled micros. As in
    :func:`affinity_propagation_grouped`, the plan is one ``groupBy(entity)``
    into one NumPy kernel per entity. A point with a NULL coordinate or
    entity is neither a node nor a neighbour. An entity above
    ``graph.CC_EDGE_BUDGET`` points (113 bytes each at the NumPy peak)
    raises ``ValueError`` naming it."""
    h = float(bandwidth)
    check = kernel_budget(entity, "points")
    xm = (F.col(coord).cast("decimal(18,6)") * F.lit(10**6)).cast("long")
    src = points.select(entity, F.col(node_id).alias("node"), xm.alias("xm")).where(
        F.col(entity).isNotNull() & F.col("xm").isNotNull()
    )

    def kern(key, pdf):
        check(key[0], f"{len(pdf)} points", len(pdf))
        idx, qn = mean_shift_nanos(pdf["xm"].to_numpy(np.int64), n_iter, h)
        nodes = pdf["node"].to_numpy()[idx]
        mode, cluster = mean_shift_labels(nodes, qn)
        return pd.DataFrame({entity: np.repeat(key[0], len(idx)), "node": nodes,
                             "mode": mode, "cluster": cluster})

    et, nt = (points.schema[c].dataType.simpleString() for c in (entity, node_id))
    schema = f"{entity} {et}, node {nt}, mode double, cluster {nt}"
    return src.groupBy(entity).applyInPandas(kern, schema)


def affinity_propagation_grouped(
    points: DataFrame,
    entity: str,
    node_id: str,
    coord: str,
    n_iter: int = 60,
) -> DataFrame:
    """Affinity Propagation analogue (the reference's last sklearn-only
    clusterer row, feature.py:4838-4864 family) on the 1-D coordinate:
    similarity s(i,k) = −(xᵢ−x_k)² on coordinates quantized to scale 6,
    preference = the LOWER MEDIAN of the off-diagonal similarities
    (sklearn's default is the median; the lower median is a deterministic
    order statistic, no two-middle averaging), K damped message-passing
    rounds (λ=1/2):

      r(i,k) ← s(i,k) − max_{k'≠k}(a(i,k') + s(i,k'))
      a(i,k) ← min(0, r(k,k) + Σ_{i'∉{i,k}} max(0, r(i',k))),
      a(k,k) ← Σ_{i'≠k} max(0, r(i',k))

    exemplars = {k : r(k,k)+a(k,k) > 0}; every point joins its
    max-similarity exemplar (ties → smallest k; no exemplar → the entity's
    min node id, one cluster).

    AP is per-entity-quadratic with entity-local state, so the plan is ONE
    shuffle (``groupBy(entity)``) and the full K-round message loop inside
    an Arrow batch, not K global shuffle rounds. The kernel runs the
    recurrence exactly in scaled int64 (scale-9 fixed point, i.e. decimal
    arithmetic): add/sub/max/sum are closed, and the single halving
    digit-drop is ``(|v|+1)//2`` with the sign restored, which is
    ``round(x*0.5, 9)`` on decimals (half away from zero). test_pairs_r2
    pins the assignments at mid-oscillation horizons; the
    ``affinity_clusters`` oracle checks the converged ones.

    ``n_iter=60``: λ=1/2 message passing oscillates through a
    many-exemplar phase for the first few dozen rounds (a float reference
    run shows the same trajectory — every near-centre point self-exemplar
    at round 30, converged two-exemplar state from round ~60; sklearn's
    own default is max_iter=200 with a 15-round convergence window).
    Iterations are entity-local NumPy, so extra rounds cost microseconds.

    Scaled-int64 bounds: coords quantize at scale 6, so |s|·10⁹ < 10¹⁶ for
    coordinate spreads below ~3·10³, and per-round sums stay under 2⁶³ for
    entities below ~400 points — the reference's own per-protein regime
    (feature.py:4838-4864 runs sklearn AP on one feature matrix in memory).
    """
    def _halve(v):
        # round(v*0.5, 9) at scale 9 == half away from zero on odd ints
        a = np.abs(v)
        return np.sign(v) * ((a + 1) // 2)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__i", kind="mergesort")
        ids = pdf["__i"].to_numpy(np.int64)
        n = len(ids)
        if n == 1:
            return pd.DataFrame({"__e": pdf["__e"].iloc[:1],
                                 "node": ids, "cluster": ids})
        # xi at scale 6 (round-half-away, matching decimal(18,6) cast)
        x6 = np.round(pdf["__x"].to_numpy(np.float64) * 10**6).astype(np.int64)
        d = x6[:, None] - x6[None, :]
        s12 = -(d.astype(np.int64) ** 2)  # scale 12, exact
        # cast decimal(·,12) -> decimal(16,9): drop 3 digits half away from zero
        a12 = np.abs(s12)
        S = -((a12 + 500) // 1000)  # scale 9; s12 is ≤ 0 throughout
        # lower median of off-diagonal similarities, ties by (i,k):
        # ordering by value then row-id is total because duplicate values
        # compare equal — position ⌈m/2⌉ of the sorted values
        off = np.sort(S[~np.eye(n, dtype=bool)])
        p = off[(len(off) + 1) // 2 - 1]
        np.fill_diagonal(S, p)
        R = np.zeros((n, n), np.int64)
        A = np.zeros((n, n), np.int64)
        for _ in range(n_iter):
            V = A + S
            # per row: max and argmax (smallest k on ties), plus runner-up
            arg1 = np.argmax(V, axis=1)  # first occurrence = smallest k
            max1 = V[np.arange(n), arg1]
            V2 = V.copy()
            V2[np.arange(n), arg1] = np.iinfo(np.int64).min
            max2 = V2.max(axis=1)
            comp = np.where(np.arange(n)[None, :] == arg1[:, None],
                            max2[:, None], max1[:, None])
            R = _halve(R + (S - comp))
            RP = np.where((~np.eye(n, dtype=bool)) & (R > 0), R, 0)
            pool = RP.sum(axis=0)  # per column k
            rkk = np.diag(R).copy()
            inner = rkk[None, :] + pool[None, :] - RP
            Anew = np.minimum(0, inner)
            np.fill_diagonal(Anew, pool)
            A = _halve(A + Anew)
        ex = np.flatnonzero(np.diag(R) + np.diag(A) > 0)
        if len(ex) == 0:
            lab = np.full(n, ids.min())
        else:
            best = ex[np.argmax(S[:, ex], axis=1)]  # ties -> smallest k
            lab = ids[best]
            lab[ex] = ids[ex]
        return pd.DataFrame({"__e": pdf["__e"].iloc[:1].repeat(n).reset_index(drop=True),
                             "node": ids, "cluster": lab})

    ent_type = points.schema[entity].dataType.simpleString()
    out_schema = f"__e {ent_type}, node bigint, cluster bigint"
    src = points.select(
        F.col(entity).alias("__e"),
        F.col(node_id).cast("long").alias("__i"),
        F.col(coord).cast("double").alias("__x"),
    )
    return (
        src.groupBy("__e")
        .applyInPandas(kern, out_schema)
        .withColumnRenamed("__e", entity)
    )


def channel_correlation(df: DataFrame, cols: list[str]) -> DataFrame:
    """MarkvCluster's correlation-matrix seed (feature.py:5083-5094) as a
    long-format pairwise Pearson table over numeric channels — one
    aggregation, partial-aggregated before the single shuffle."""
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.corr(a, b).alias(f"{a}__{b}"))
    wide = df.agg(*aggs)
    pairs = None
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            row = wide.select(
                F.lit(a).alias("ch_a"), F.lit(b).alias("ch_b"),
                F.col(f"{a}__{b}").alias("pearson"),
            )
            pairs = row if pairs is None else pairs.unionByName(row)
    return pairs


def mcl(
    n: int, rows: np.ndarray, cols: np.ndarray, v: np.ndarray,
    inflation: float = 2.0, max_iter: int = 12, prune: float = 1e-4, tol: float = 1e-5,
) -> np.ndarray:
    """Markov clustering on the dense n×n matrix with entries
    ``M[rows[k], cols[k]] = v[k]``, the reference's own dense NumPy loop
    (MarkvCluster, feature.py:5083-5154). Entries with ``v <= 0`` drop,
    duplicates keep the largest ``v``, and every diagonal entry is
    ``max(v, 1)`` (MCL's self-loops). After a column normalization, each
    step squares the matrix (expand), raises it to ``inflation``,
    normalizes the columns, drops entries ``<= prune`` and normalizes again;
    the loop stops once no entry moved by ``tol`` or after ``max_iter``
    steps. Returns per column the smallest row with a nonzero entry (its
    attractor), or -1 where pruning emptied the column."""
    def colnorm(x):  # in place; a column pruned empty stays empty
        tot = x.sum(axis=0)
        x /= np.where(tot > 0, tot, 1.0)

    m, keep, d = np.zeros((n, n)), v > 0, np.arange(n)
    np.maximum.at(m, (rows[keep], cols[keep]), v[keep])
    m[d, d] = np.maximum(m[d, d], 1.0)
    colnorm(m)
    for _ in range(max_iter):
        nxt = m @ m
        np.power(nxt, inflation, out=nxt)
        colnorm(nxt)
        nxt[nxt <= prune] = 0.0
        colnorm(nxt)
        m -= nxt  # the old matrix becomes |Δ|, no third n×n array
        delta = np.abs(m, out=m).max(initial=0.0)
        m = nxt
        if delta < tol:
            break
    nz = m != 0
    return np.where(nz.any(axis=0), nz.argmax(axis=0), -1)


def mcl_clusters(
    edges: DataFrame, src: str = "i", dst: str = "j", weight: str = "v",
    inflation: float = 2.0, max_iter: int = 12, prune: float = 1e-4, tol: float = 1e-5,
) -> DataFrame:
    """Markov clustering (MarkvCluster, feature.py:5083-5154) of the
    weighted edge list (src, dst, weight) read as the matrix M[src, dst]:
    :func:`mcl` on the whole graph in one grouped kernel
    (``graph._per_entity`` over a constant entity ``__g``), the
    reference's dense in-memory regime. Every node of an edge is a node,
    also when its edges all have weight <= 0. Returns (node, cluster) with
    cluster = the smallest attractor row of the node's column. A graph above
    ``graph.CELL_BUDGET`` n² cells (17 bytes each at peak) raises ``ValueError``."""
    m = edges.select(
        F.lit(0).alias("__g"), F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).cast("double").alias("v"),
    )

    def algo(g: Graph, pdf: pd.DataFrame) -> dict:
        att = mcl(len(g.ids), g.ea, g.eb, pdf["v"].to_numpy(np.float64),
                  inflation, max_iter, prune, tol)
        kept = att >= 0
        return {"node": g.ids[kept], "cluster": g.ids[att[kept]]}

    return _per_entity(
        m, "__g", [("node", None), ("cluster", None)], algo, carry=("v",),
        cells=lambda g: len(g.ids) ** 2,
    ).drop("__g")


def agglomerative_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    n_sample: int = 500,
    seed: int = 42,
) -> DataFrame:
    """TRUE agglomerative hierarchical clustering (reference iAnalysis
    Agglomerative, feature.py:4824-4836 — sklearn AgglomerativeClustering,
    average linkage), closing the round-2 gap where BisectingKMeans stood
    in as a divisive analogue. Honest scale shape, same as tsne_sample:
    the algorithm is O(n²) memory / O(n³) time with a global merge order
    — no faithful distributed form — so a seeded rank-deterministic
    bounded sample (xxhash64 order, partitioning-invariant) comes to the
    driver and is clustered by exact Lance–Williams average-linkage
    merges; everything upstream (sampling, vector assembly) stays
    distributed. Fully deterministic — the algorithm itself has NO random
    state (ties broken by smallest cluster index pair), so unlike the
    EM-family fixtures no seed search is needed for the pinned oracle.

    Returns (id, cluster) with cluster = the MIN member id of the merged
    cluster (canonical labels, same convention as the fixture pins); id
    dtype passes through unchanged."""
    ranked = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n_sample)
    )
    rows = ranked.collect()  # bounded by n_sample — the documented trade
    ids = [r[0] for r in rows]
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    n = len(ids)
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, cluster {id_type}"
    if n == 0:
        return spark.createDataFrame([], schema)
    # pairwise euclidean distances; clusters merge by smallest average
    # inter-cluster distance, Lance-Williams update keeps it exact
    D = np.sqrt(np.maximum(np.square(X[:, None, :] - X[None, :, :]).sum(-1), 0.0))
    np.fill_diagonal(D, np.inf)
    members: dict[int, list[int]] = {i: [i] for i in range(n)}
    active = sorted(members)
    while len(active) > k:
        sub = D[np.ix_(active, active)]
        flat = int(np.argmin(sub))
        ai, aj = divmod(flat, len(active))
        if ai > aj:
            ai, aj = aj, ai
        ci, cj = active[ai], active[aj]  # merge cj into ci
        ni, nj = len(members[ci]), len(members[cj])
        for o in active:
            if o in (ci, cj):
                continue
            D[ci, o] = D[o, ci] = (ni * D[ci, o] + nj * D[cj, o]) / (ni + nj)
        D[cj, :] = np.inf
        D[:, cj] = np.inf
        members[ci].extend(members.pop(cj))
        active.remove(cj)
    out = []
    for c in active:
        canon = min(ids[i] for i in members[c])
        for i in members[c]:
            out.append((ids[i], canon))
    return spark.createDataFrame(out, schema)


def tsne_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_sample: int = 1000,
    perplexity: float = 10.0,
    n_iter: int = 300,
    seed: int = 42,
) -> DataFrame:
    """t-SNE (the reference's last DR row, iAnalysis.TSNE family alongside
    PCA feature.py:4952-4960) as a BOUNDED-SAMPLE visualization operator —
    the honest scale shape: t-SNE is O(N²) with a global KL objective and
    has no faithful distributed form, and its product is a scatter plot,
    so at 100 TB you take a seeded bounded sample to the driver, embed it,
    and keep everything upstream (the sampling, the vector assembly)
    distributed. The embedding itself is a self-contained NumPy
    implementation (exact affinities with per-point perplexity calibration,
    early exaggeration, momentum gradient descent) — deterministic given
    the seed, no sklearn. Returns (id, ts1, ts2) for the sampled rows.

    The sample is rank-deterministic: xxhash64(id, seed) orders the table
    and the first n_sample rows win, so the same inputs always embed the
    same subset regardless of partitioning. Ids are returned AS STRINGS
    in every branch (the output schema is `{id_col} string` — a plot
    legend key, not a join key); pass pre-cast string ids to keep dtypes
    round-trippable."""
    ranked = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n_sample)
    )
    rows = ranked.collect()  # bounded by n_sample — the documented trade
    ids = [r[0] for r in rows]
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    n = len(ids)
    spark = df.sparkSession
    if n < 3:
        # stringify like the main path so both branches agree on the
        # declared `{id_col} string` schema for non-string id columns
        out = [(str(i), 0.0, 0.0) for i in ids]
        return spark.createDataFrame(out, f"{id_col} string, ts1 double, ts2 double")

    # pairwise affinities with per-point beta calibrated to the perplexity
    D = np.square(X[:, None, :] - X[None, :, :]).sum(-1)
    logU = np.log(min(perplexity, (n - 1) / 3.0))
    P = np.zeros((n, n))
    for i in range(n):
        lo, hi, beta = 0.0, np.inf, 1.0
        Di = np.delete(D[i], i)
        for _ in range(50):
            w = np.exp(-Di * beta)
            sw = w.sum()
            if sw <= 0:
                H, p = 0.0, w
            else:
                p = w / sw
                H = -np.sum(p * np.log(np.maximum(p, 1e-300)))
            if abs(H - logU) < 1e-5:
                break
            if H > logU:
                lo, beta = beta, beta * 2 if hi == np.inf else (beta + hi) / 2
            else:
                hi, beta = beta, (lo + beta) / 2
        P[i, np.arange(n) != i] = p
    P = (P + P.T) / (2.0 * n)
    P = np.maximum(P, 1e-12)

    rng = np.random.default_rng(seed)
    Y = rng.normal(0.0, 1e-4, size=(n, 2))
    dY = np.zeros_like(Y)
    for it in range(n_iter):
        px = P * (4.0 if it < 50 else 1.0)  # early exaggeration
        num = 1.0 / (1.0 + np.square(Y[:, None] - Y[None, :]).sum(-1))
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        G = 4.0 * (((px - Q) * num)[:, :, None] * (Y[:, None] - Y[None, :])).sum(1)
        mom = 0.5 if it < 250 else 0.8
        dY = mom * dY - 100.0 * G
        Y = Y + dY
        Y = Y - Y.mean(0)
    out = [(str(i), round(float(y[0]), 6), round(float(y[1]), 6))
           for i, y in zip(ids, Y)]
    return spark.createDataFrame(out, f"{id_col} string, ts1 double, ts2 double")


def gmm_clusters_em(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    seed: int = 42,
    n_iter: int = 60,
    reg_covar: float = 1e-6,
    group_col: str | None = None,
) -> DataFrame:
    """Full-covariance Gaussian-mixture EM with a NumPy/LAPACK kernel
    (iAnalysis.GM semantics, feature.py:4809-4822 — sklearn-style
    random-responsibility init, E/M steps, posterior argmax), grouped
    applyInPandas over a partition key so each bounded group's EM runs
    vectorized in one Arrow batch.

    WHY THIS EXISTS BESIDE ``gmm_clusters`` (MLlib): MLlib's
    GaussianMixture computes each component's covariance constants through
    the pure-Java f2j LAPACK ``dsyev``, which can spin WITHOUT TERMINATING
    on EM-trajectory covariances — jstack-confirmed twice in round 3 on
    8-D inputs and AGAIN in round 4 on the 3-D-hardened fixture
    (Dlascl/Dsyev RUNNABLE forever inside
    MultivariateGaussian.calculateCovarianceConstants). A non-terminating
    gate query is worse than any accuracy trade, so the PINNED fixture
    query runs THIS kernel — NumPy's LAPACK (OpenBLAS) dsyev/cholesky has
    no such failure mode — while ``gmm_clusters`` remains the
    MLlib-surface rows-only query at sf scale, OUTSIDE every gate window.

    Deterministic: np.random.default_rng(seed) k-means++ init, fixed
    iteration count, float64 throughout. Returns (id, cluster, max_prob).

    ``group_col`` keys the EM per group — the distributed shape (one
    bounded mixture fit per entity across executors, like
    affinity_propagation_grouped); None fits ONE mixture over the whole
    input in a single Arrow batch, which is only for bounded fixtures.
    The at-scale single-mixture path over unbounded rows remains MLlib
    ``gmm_clusters``.
    """
    gcols = [group_col] if group_col else []
    out_schema = ", ".join(
        [f"{c} string" for c in gcols]
        + [f"{id_col} long", "cluster int", "max_prob double"]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack(pdf["__v"].to_numpy())
        n, d = X.shape
        rng = np.random.default_rng(seed)
        # k-means++ seeding (sklearn's GaussianMixture default init is
        # kmeans-based for the same reason): flat random responsibilities
        # start every component at the global mean and EM merges/splits
        # well-separated blobs; distance-weighted seeding picks one point
        # per separated mode with overwhelming probability
        centers = [X[rng.integers(n)]]
        for _ in range(1, k):
            d2 = np.min(
                [((X - c) ** 2).sum(axis=1) for c in centers], axis=0
            )
            centers.append(X[rng.choice(n, p=d2 / d2.sum())])
        d2all = np.stack(
            [((X - c) ** 2).sum(axis=1) for c in centers], axis=1
        )
        resp = np.zeros((n, k))
        resp[np.arange(n), d2all.argmin(axis=1)] = 1.0
        log_prob = np.zeros((n, k))
        for _ in range(n_iter):
            # M step
            nk = resp.sum(axis=0) + 1e-10
            means = (resp.T @ X) / nk[:, None]
            covs = np.empty((k, d, d))
            for j in range(k):
                diff = X - means[j]
                covs[j] = (resp[:, j][:, None] * diff).T @ diff / nk[j]
                covs[j].flat[:: d + 1] += reg_covar
            weights = nk / n
            # E step (log-space, Cholesky — no eigensolver anywhere)
            for j in range(k):
                L = np.linalg.cholesky(covs[j])
                y = np.linalg.solve(L, (X - means[j]).T)
                maha = (y * y).sum(axis=0)
                logdet = 2.0 * np.log(np.diag(L)).sum()
                log_prob[:, j] = (
                    np.log(weights[j])
                    - 0.5 * (d * np.log(2 * np.pi) + logdet + maha)
                )
            mx = log_prob.max(axis=1, keepdims=True)
            p = np.exp(log_prob - mx)
            resp = p / p.sum(axis=1, keepdims=True)
        out = {c: pdf[c].to_numpy() for c in gcols}
        out[id_col] = pdf[id_col].to_numpy()
        out["cluster"] = resp.argmax(axis=1).astype("int32")
        out["max_prob"] = np.round(resp.max(axis=1), 6)
        return pd.DataFrame(out)

    if group_col:
        prepped = df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        return prepped.groupBy(group_col).applyInPandas(fit, out_schema)
    prepped = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__g", F.lit(0))
    return prepped.groupBy("__g").applyInPandas(fit, out_schema).drop("__g")


def sketch_accuracy_stats(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rsd: float = 0.05,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-vs-exact audit for the two estimators a 100 TB pipeline
    substitutes for exact global answers: HyperLogLog++ distinct counts
    (approx_count_distinct — one pass, constant memory, vs the exact
    count-distinct shuffle) and Greenwald-Khanna approximate quantiles
    (percentile_approx — vs the exact full-sort percentile). Emits both
    answers plus boolean within-tolerance verdicts; the pinned oracle
    asserts the exact values bit-for-bit and the verdicts TRUE, so a
    sketch regression (or a wrong rsd/accuracy plumb-through) flips the
    gate without pinning the engine's sketch internals."""
    exact_q = [float(q) for q in quantiles]
    agg = df.agg(
        F.countDistinct(key_col).cast("long").alias("exact_distinct"),
        F.approx_count_distinct(key_col, rsd).cast("long").alias("hll_distinct"),
        F.expr(
            f"percentile({value_col}, array({','.join(str(q) for q in exact_q)}))"
        ).alias("__pe"),
        F.percentile_approx(
            value_col, F.array(*[F.lit(q) for q in exact_q]), F.lit(accuracy)
        ).alias("__pa"),
    )
    hll_ok = (
        F.abs(F.col("hll_distinct") - F.col("exact_distinct"))
        <= F.col("exact_distinct") * 3 * rsd
    ).alias("hll_within_3rsd")
    # GK bound: rank error <= 1/accuracy of n — compare VALUES at a loose
    # relative tolerance instead (value-space bound needs the density;
    # 1% holds with huge margin on the test distributions)
    q_ok = F.aggregate(
        F.zip_with(
            F.col("__pe").cast("array<double>"),
            F.col("__pa").cast("array<double>"),
            lambda e, a: (F.abs(e - a) <= F.abs(e) * 0.01 + F.lit(1e-9)),
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    ).alias("quantiles_within_1pct")
    return agg.select("exact_distinct", hll_ok, q_ok)
