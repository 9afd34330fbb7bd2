import numpy as np
import pytest
from pyspark.sql import functions as F

from sema_spark.operators.similarity import (
    ann_lsh_topk,
    build_lsh_index,
    cosine_topk,
    knn_join,
)

DIM = 64
N = 300


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(11)
    m = rng.standard_normal((N, DIM)).astype(np.float32)
    rows = [(i, [float(x) for x in m[i]]) for i in range(N)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()
    df.count()
    yield df, m
    df.unpersist()


def _brute(m, q, k):
    sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.argsort(np.stack([-sims, np.arange(len(m))], axis=1).T.tolist())  # unused
    idx = np.argsort(-sims, kind="stable")[:k]
    return [int(i) for i in idx]


def test_cosine_topk_matches_numpy(spark, vecs):
    df, m = vecs
    q = m[17] + 0.01
    got = [r.vec_id for r in cosine_topk(df, [float(x) for x in q], k=5).collect()]
    assert got == _brute(m, q, 5)
    assert got[0] == 17


def test_knn_join(spark, vecs):
    df, m = vecs
    queries = spark.createDataFrame(
        [(0, [float(x) for x in m[3]]), (1, [float(x) for x in m[42]])],
        "q_id long, q_vec array<float>",
    )
    out = knn_join(queries, df, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id))
    assert sorted(by_q[0])[0][1] == 3  # self at rank 1
    assert sorted(by_q[1])[0][1] == 42
    assert len(by_q[0]) == 3 and len(by_q[1]) == 3


def test_knn_join_is_broadcast(spark, vecs):
    df, m = vecs
    queries = spark.createDataFrame([(0, [float(x) for x in m[3]])], "q_id long, q_vec array<float>")
    plan = knn_join(queries, df, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ann_lsh_recall(spark):
    """ANN recall on CLUSTERED vectors (the actual ANN use case — on
    uniform random high-dim data bucketing cannot co-locate neighbors)."""
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((10, DIM)).astype(np.float32) * 3
    m = np.vstack([c + rng.standard_normal((30, DIM)).astype(np.float32) * 0.3 for c in centers])
    rows = [(i, [float(x) for x in m[i]]) for i in range(len(m))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = build_lsh_index(df, dim=DIM, num_bits=8).persist()
    index.count()
    hits_top1 = 0
    overlap = 0
    for qi in (5, 77, 123):
        q = [float(x) for x in m[qi]]
        exact = set(_brute(m, np.asarray(q), 5))
        got = [r.vec_id for r in ann_lsh_topk(index, q, k=5, dim=DIM, num_bits=8, probes=4).collect()]
        hits_top1 += int(got and got[0] == qi)
        overlap += len(set(got) & exact)
    index.unpersist()
    assert hits_top1 == 3  # self-vector always found (its own bucket)
    assert overlap >= 12  # ≥ 4/5 average overlap with exact top-5


def test_vector_topks_drop_null_scores(spark, tmp_path):
    """A zero-norm vector scores NULL and is not a result of any vector
    top-k, even when fewer than k scoreable rows are probed."""
    from sema_spark.operators.clustering import ivf_kmeans_topk
    from sema_spark.sources.ann_index import (
        build_ivf_index,
        build_lsh_stored_index,
        ivf_stored_topk,
        lsh_stored_topk,
    )

    dim = 4
    rows = [
        (0, [1.0, 0.5, 0.0, 0.0]),
        (1, [0.0] * dim),
        (2, [0.5, 1.0, 0.25, 0.0]),
        (3, [-1.0, 0.0, 0.5, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 1.0, 0.5, 0.25]
    ivf, lsh = str(tmp_path / "ivf"), str(tmp_path / "lsh")
    build_ivf_index(df, ivf, n_clusters=2, iterations=2)
    build_lsh_stored_index(df, lsh, dim=dim, num_bits=1)
    # every cell and bucket is probed: all four rows reach the scorer
    results = {
        "cosine_topk": cosine_topk(df, q, k=10),
        "ann_lsh_topk": ann_lsh_topk(build_lsh_index(df, dim, 1), q, k=10, dim=dim, num_bits=1, probes=2),
        "ivf_kmeans_topk": ivf_kmeans_topk(df, q, k=10, n_clusters=2, iterations=2, probes=2),
        "lsh_stored_topk": lsh_stored_topk(spark, lsh, q, k=10, probes=2),
        "ivf_stored_topk": ivf_stored_topk(spark, ivf, q, k=10, probes=2),
    }
    for name, out in results.items():
        got = out.collect()
        assert sorted(r.vec_id for r in got) == [0, 2, 3], name
        assert all(r.score is not None for r in got), name
