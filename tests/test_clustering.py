"""Deterministic k-means: the distributed Lloyd loop must equal the
independent full-matrix numpy/decimal oracle assignment-for-assignment,
and the determinism contract must hold under repartitioning (double
sums would not — the decimal sums are the point)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sema_spark.operators.clustering import kmeans
from sema_spark.oracles import kmeans_python


def _df(spark, ids, vecs, parts=1):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(parts)


def test_kmeans_matches_python_oracle(spark):
    rng = np.random.default_rng(42)
    # three well-separated blobs, INTERLEAVED so the min-id init picks
    # one seed per blob (ids 0,1,2 land in different blobs)
    blobs = [rng.normal(c, 0.5, size=(30, 8)) for c in (-5.0, 0.0, 5.0)]
    vecs = np.stack(
        [blobs[i % 3][i // 3] for i in range(90)]
    ).astype(np.float32)
    ids = list(range(len(vecs)))
    exp = kmeans_python(ids, vecs, k=3, iterations=4)
    for parts in (1, 7):
        got = {
            r.vec_id: r.cluster
            for r in kmeans(_df(spark, ids, vecs, parts), k=3, iterations=4).collect()
        }
        assert got == exp, parts
    # blob structure recovered: each blob maps to exactly one cluster
    for b in range(3):
        assert len({exp[i] for i in ids if i % 3 == b}) == 1


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # k=3 but only two distinct locations: one centroid goes memberless
    # after round 1 and must keep its previous position (both engines)
    vecs = np.array([[0.0, 0.0], [0.1, 0.0], [5.0, 5.0], [5.1, 5.0], [0.05, 0.0]],
                    dtype=np.float32)
    ids = [10, 11, 12, 13, 14]
    exp = kmeans_python(ids, vecs, k=3, iterations=3)
    got = {r.vec_id: r.cluster for r in kmeans(_df(spark, ids, vecs), k=3, iterations=3).collect()}
    assert got == exp
    assert len(set(exp.values())) >= 2


def test_kmeans_on_real_embeddings(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = df.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    vecs = [r.embedding for r in rows]
    exp = kmeans_python(ids, vecs, k=4, iterations=3)
    got = {r.vec_id: r.cluster for r in kmeans(df, k=4, iterations=3).collect()}
    assert got == exp
    assert len(set(got.values())) > 1


def test_ivf_kmeans_topk_matches_python(spark):
    from sema_spark.operators.clustering import ivf_kmeans_topk
    from sema_spark.oracles import ivf_kmeans_topk_python

    rng = np.random.default_rng(7)
    blobs = [rng.normal(c, 0.4, size=(20, 6)) for c in (-4.0, 0.0, 4.0)]
    vecs = np.stack([blobs[i % 3][i // 3] for i in range(60)]).astype(np.float32)
    ids = list(range(60))
    q = [float(x) for x in vecs[0]]
    exp = ivf_kmeans_topk_python(ids, vecs, q, k=5, n_clusters=3, iterations=3, probes=1)
    got = [
        (r.vec_id, r.score)
        for r in ivf_kmeans_topk(
            _df(spark, ids, vecs, parts=5), q, k=5, n_clusters=3, iterations=3, probes=1
        ).collect()
    ]
    assert got == exp
    # probing 1 of 3 well-separated cells: every hit is from q's blob
    assert all(i % 3 == 0 for i, _ in got) and got[0][0] == 0
