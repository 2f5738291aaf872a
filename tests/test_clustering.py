import numpy as np
import pytest
from pyspark.sql import functions as F

from database2ogr_spark.operators import clustering as KM


def _blobs(spark, n_per=20, k=3, dim=8, spread=0.05):
    # three well-separated direction blobs — spherical k-means ground truth
    rng = np.random.RandomState(7)
    centers = np.eye(k, dim) * 10.0
    rows = []
    for c in range(k):
        for i in range(n_per):
            v = centers[c] + rng.randn(dim) * spread
            rows.append((c * n_per + i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_recovers_separated_blobs(spark):
    df = _blobs(spark)
    out = KM.kmeans_embeddings(df, k=3, n_iter=3).collect()
    assert len(out) == 60
    # each found cluster maps to exactly one true label
    by_cluster = {}
    labels = {r.vec_id: r.vec_id // 20 for r in df.select("vec_id").collect()}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(labels[r.vec_id])
    assert all(len(s) == 1 for s in by_cluster.values()), by_cluster
    assert {r.cluster_size for r in out} == {20}


def test_kmeans_deterministic_across_runs(spark):
    df = _blobs(spark, spread=1.0)
    a = sorted((r.vec_id, r.cluster_id) for r in KM.kmeans_embeddings(df, k=4).collect())
    b = sorted((r.vec_id, r.cluster_id) for r in KM.kmeans_embeddings(df, k=4).collect())
    assert a == b


def test_kmeans_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert KM.kmeans_embeddings(df, k=3).count() == 0


def test_semantic_dedup_lowest_id_survives(spark):
    # vectors 100/101/102 are exact copies of vector 0's direction; only the
    # lowest id of the duplicate set (0) must survive. spread=2 keeps
    # within-blob cosines (~0.76) far below the 0.999 threshold
    df = _blobs(spark, spread=2.0)
    base = df.filter(F.col("vec_id") == 0).first().embedding
    dups = spark.createDataFrame(
        [(100 + i, base, 9) for i in range(3)],
        "vec_id long, embedding array<float>, label int",
    )
    out = KM.semantic_dedup(df.union(dups), k=3, n_iter=2, threshold=0.999)
    kept = {r.vec_id for r in out.collect()}
    assert 0 in kept
    assert kept.isdisjoint({100, 101, 102})
    # non-duplicates all survive (blob spread is far below the threshold)
    assert len(kept) == 60


def test_kmeans_sizes_join_is_broadcast(spark):
    from database2ogr_spark.session import executed_plans

    df = _blobs(spark)
    # the join runs in the eager finalize_lifecycle checkpoint, the last
    # execution before the returned scan of it
    _, plans = executed_plans(spark, lambda: KM.kmeans_embeddings(df, k=3, n_iter=1))
    assert "BroadcastHashJoin" in plans[-2], plans


def test_davies_bouldin_separated_beats_mixed(spark):
    import numpy as np

    from database2ogr_spark.operators.clustering import davies_bouldin

    rng = np.random.RandomState(4)
    # two tight, well-separated direction blobs
    a = rng.randn(60, 8) * 0.05 + np.array([5.0] + [0.0] * 7)
    b = rng.randn(60, 8) * 0.05 + np.array([0.0] * 7 + [5.0])
    tight = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(np.vstack([a, b]))],
        "vec_id long, embedding array<double>",
    )
    # one diffuse cloud (no real structure)
    cloud = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(rng.randn(120, 8))],
        "vec_id long, embedding array<double>",
    )
    r_tight = davies_bouldin(tight, k=2, n_iter=4).collect()[0]
    r_cloud = davies_bouldin(cloud, k=2, n_iter=4).collect()[0]
    assert r_tight.k_used == 2
    assert r_tight.db_index < r_cloud.db_index
    assert r_tight.db_index < 0.2  # tight separated blobs -> tiny DB
