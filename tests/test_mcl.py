"""MCL (MarkvCluster analogue) through Spark: three disconnected cliques
must come back as exactly three clusters matching membership."""

from __future__ import annotations

from spark_pit.operators.analysis import mcl_clusters


def test_mcl_recovers_cliques(spark):
    edges = []
    blobs = [list(range(0, 6)), list(range(10, 15)), list(range(20, 27))]
    for blob in blobs:
        for a in blob:
            for b in blob:
                if a < b:
                    edges.append((a, b, 1.0))
                    edges.append((b, a, 1.0))
    df = spark.createDataFrame(edges, ["i", "j", "v"])
    out = mcl_clusters(df).toPandas()
    assert len(out) == sum(len(b) for b in blobs)
    by_cluster = out.groupby("cluster")["node"].apply(set).to_dict()
    assert len(by_cluster) == 3
    assert sorted(map(frozenset, by_cluster.values()), key=min) == [
        frozenset(b) for b in blobs
    ]
