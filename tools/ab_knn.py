"""A/B the batch kNN join's rank shape at a query batch >= 100.

Old shape (r5): one row_number() window over q_id — every scored row
exchanges onto Q keys, one reducer per query sees the whole candidate
set.  New shape (r6): salted two-phase rank (see similarity.knn_join).
Both shapes score with the same ``cosine_fold_arrow``, so the A/B
measures the rank shape only.  Run at sf0.1 (default) with Q=100,
best-of-3 per shape, and verify the two shapes return identical rows.
"""

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import Window
from pyspark.sql import functions as F

from sema_spark.functions.vector import cosine_fold_arrow
from sema_spark.operators.similarity import knn_join
from sema_spark.session import get_spark


def knn_join_r5(queries, candidates, k=5):
    j = candidates.crossJoin(F.broadcast(queries.select("q_id", "q_vec")))
    scored = j.select(
        "q_id", "vec_id", F.round(cosine_fold_arrow(F.col("embedding"), F.col("q_vec")), 6).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    amp = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    spark = get_spark()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # amplify the candidate side (replicas get distinct ids) and SPREAD
    # it — a 100 TB table arrives in many splits, not one tiny file
    emb = (
        emb.crossJoin(spark.range(amp).select(F.col("id").alias("_rep")))
        .select((F.col("vec_id") * amp + F.col("_rep")).alias("vec_id"), "embedding")
        .repartition(32)
        .persist()
    )
    n = emb.count()
    print(f"candidates={n} queries={nq}")

    shapes = {"r5_single_window": knn_join_r5, "r6_two_phase": knn_join}
    rows = {}
    for name, fn in shapes.items():
        best = 1e9
        for _ in range(3):
            t0 = time.time()
            out = fn(queries, emb, k=3).collect()
            best = min(best, time.time() - t0)
        rows[name] = sorted((r.q_id, r.vec_id, r.score, r.rank) for r in out)
        print(f"{name}: best-of-3 {best:.2f}s rows={len(out)}")
    assert rows["r5_single_window"] == rows["r6_two_phase"], "shapes disagree!"
    print("shapes identical: OK")


if __name__ == "__main__":
    main()
