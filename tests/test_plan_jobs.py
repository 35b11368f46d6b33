"""Plan-time Spark jobs: building a query's DataFrame should launch none.

A job launched while a plan is built is paid on every pass, before any of
the query's own work. The sources this pins are gone: a parquet read pins
the schema it inferred (``catalog.read_table``), and the iterative graph
and clustering operators (components, BFS paths, betweenness, PageRank,
eigenvector, DBSCAN, mean shift, MCL) run as one grouped kernel per entity
inside the plan instead of checkpoint jobs per round. What remains is the entry checkpoint of the
components' edge list, which ``dedup_clusters`` runs on purpose, and the
image pipeline's hot-key detection, whose exact grouped count is how the
plan learns which ids to salt.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.workloads import RegisteredQueries

# the entry checkpoint of connected_components: one job per adaptive
# query stage of the verified-pair plan it materializes
DEDUP_CLUSTERS_JOBS = 4
# hot-key detection of image_pit_features(hot_threshold=28): one exact
# grouped count, one job per adaptive query stage (its shuffle and its
# result)
IMAGE_PIPELINE_JOBS = 2
_GROUPS = itertools.count()


def _plan_jobs(spark, build) -> tuple[int, object]:
    """Jobs launched while ``build()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"plan-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "plan-time job count")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("name", RegisteredQueries.queries)
def test_workload_query_plans_without_jobs(spark, sf_dir, name):
    from spark_pit.queries import QUERIES

    _plan_jobs(spark, lambda: QUERIES[name](spark, sf_dir))  # cold build
    jobs, _ = _plan_jobs(spark, lambda: QUERIES[name](spark, sf_dir))
    if name == "dedup_clusters":
        assert 0 < jobs <= DEDUP_CLUSTERS_JOBS
    else:
        assert jobs == 0


@pytest.mark.parametrize("name", [
    "graph_path_stats", "closeness_centrality", "betweenness", "pagerank",
    "eigen_centrality", "dbscan", "mean_shift", "mcl_clusters",
])
def test_graph_query_plans_without_jobs(spark, sf_dir, name):
    from spark_pit.queries import QUERIES

    _plan_jobs(spark, lambda: QUERIES[name](spark, sf_dir))  # cold build
    jobs, _ = _plan_jobs(spark, lambda: QUERIES[name](spark, sf_dir))
    assert jobs == 0


def test_read_table_sees_a_file_rewritten_in_place(spark, tmp_path):
    from spark_pit.catalog import read_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    first = read_table(spark, path)
    assert first.columns == ["x"]
    jobs, again = _plan_jobs(spark, lambda: read_table(spark, path))
    assert jobs == 0  # the unchanged file reuses the pinned schema
    assert sorted(r.x for r in again.collect()) == [1, 2, 3]

    pq.write_table(pa.table({"y": ["a", "b"], "z": [1.5, 2.5]}), path)
    after = read_table(spark, path)
    assert after.columns == ["y", "z"]
    assert sorted(tuple(r) for r in after.collect()) == [("a", 1.5), ("b", 2.5)]


def test_read_table_unlistable_path_reads_plainly(spark, sf_dir):
    from spark_pit.catalog import read_table

    glob_df = read_table(spark, f"{sf_dir}/event*.parquet")
    assert glob_df.schema == spark.read.parquet(f"{sf_dir}/events.parquet").schema


def test_image_pipeline_plans_with_only_the_hot_key_count(spark, tmp_path):
    from spark_pit.datagen import images_table, snapshots_table
    from spark_pit.operators.skew import hot_entities
    from spark_pit.pipeline import image_pit_features

    img, snp = str(tmp_path / "images.parquet"), str(tmp_path / "snapshots.parquet")
    images_table(spark, n_entities=20, n_rows=500, seed=42).write.parquet(img)
    snapshots_table(spark, n_entities=20, seed=42).write.parquet(snp)
    images, snaps = spark.read.parquet(img), spark.read.parquet(snp)
    assert hot_entities(images, "image_id", 28)  # the salted path is planned

    def build():
        return image_pit_features(images, snaps, num_buckets=8, hot_threshold=28)

    _plan_jobs(spark, build)  # cold build
    jobs, _ = _plan_jobs(spark, build)
    assert 0 < jobs <= IMAGE_PIPELINE_JOBS


def test_minhash_over_a_shuffled_input_plans_without_jobs(spark, tmp_path):
    """``_minhash_wide`` reads its input's split count off the physical
    plan: an input above its 4 MB fan-out floor that arrives through a
    ``groupBy`` is an adaptive plan, whose RDD would run the shuffle."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_pit.operators.dedup import minhash_signatures

    rng = np.random.default_rng(0)
    words = np.array(["".join(map(chr, 97 + rng.integers(0, 26, 7))) for _ in range(20_000)])
    n = 6_000
    texts = [" ".join(words[rng.integers(0, len(words), 120)]) for _ in range(n)]
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": np.arange(n), "text": texts}), path, compression="none")
    docs = spark.read.parquet(path)
    grouped = docs.groupBy("doc_id").agg(F.max("text").alias("text"))
    est = grouped._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(est) >= 4 << 20  # the fan-out check runs

    jobs, sig = _plan_jobs(spark, lambda: minhash_signatures(grouped, "doc_id", "text"))
    assert jobs == 0
    assert "RoundRobinPartitioning" not in sig._jdf.queryExecution().executedPlan().toString()
    # a single-file scan still fans out to the cluster's slots
    jobs, sig = _plan_jobs(spark, lambda: minhash_signatures(docs, "doc_id", "text"))
    assert jobs == 0
    assert "RoundRobinPartitioning" in sig._jdf.queryExecution().executedPlan().toString()
