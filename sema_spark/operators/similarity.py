"""Similarity search over embedding columns (SURVEY J2/W4 generalized).

Every single-query tier ends in :func:`cosine_topk`, the engine's one
vector top-k; the tiers differ only in which candidates reach it:

* :func:`cosine_topk` over the whole table — brute force; Catalyst
  plans TakeOrderedAndProject (no full sort), the exactness oracle for
  the ANN tiers.
* :func:`ann_lsh_topk` — IVF-style scale path: coarse quantization by
  hyperplane sign-sketch buckets; probe the query's bucket (+ optional
  multi-probe by flipping weakest bits), exact re-rank inside.  Recall
  traded for touching ~1/2^bits of the data per probe.  The stored LSH
  index's query is this function over its table; the IVF tiers
  (operators/clustering, sources/ann_index) end in the same call.

:func:`knn_join` is the batch form — per-query top-k against a
candidate table, broadcasting the (small) query set, mirroring the
reference's 1-query-vs-N search
(``src/storage/lance_indexer.rs:120-126``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sema_spark.functions.vector import cosine_fold_arrow, cosine_literal_fold
from sema_spark.operators.dedup import hyperplane_sketch


def cosine_topk(df: DataFrame, qvec: list[float], k: int = 10) -> DataFrame:
    """Exact top-k ``(vec_id, score)`` of ``df``'s ``(vec_id,
    embedding)`` rows against ``qvec``: the fold cosine rounded at 6,
    ties on ``vec_id``.  A NULL score (null or zero-norm vector) is no
    result, also when fewer than ``k`` rows are scoreable — the python
    oracles drop it identically."""
    return (
        df.select("vec_id", F.round(cosine_literal_fold(F.col("embedding"), qvec), 6).alias("score"))
        .where(F.col("score").isNotNull())
        .orderBy(F.desc("score"), F.col("vec_id"))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    num_salts: int = 32,
) -> DataFrame:
    """Per-query exact top-k of ``queries (q_id, q_vec)`` against
    ``candidates (vec_id, embedding)``: broadcast the small query side,
    then a SALTED two-phase rank so no single reducer ever sees a
    query's full candidate set.

    Phase 1 ranks within (q_id, salt) — the exchange key has Q×S
    cardinality, so the N×Q scored rows spread across Q×S tasks and
    each keeps ≤ k survivors.  Phase 2 re-ranks the ≤ Q×S×k survivors
    per q_id (a few KB per query regardless of N).  Equivalent to one
    global row_number per query: every global top-k row is also top-k
    within its salt group, and the (score desc, vec_id) order is total,
    so phase 2 reproduces the exact global ranks.

    At 10^2-10^4 queries × a 100 TB candidate table this is the right
    plan: one pass over candidates, no candidate-side shuffle below the
    join, and the only full-width exchange is bounded by k per group.
    """
    j = candidates.crossJoin(F.broadcast(queries.select("q_id", "q_vec")))
    scored = j.select(
        "q_id",
        "vec_id",
        F.round(cosine_fold_arrow(F.col("embedding"), F.col("q_vec")), 6).alias("score"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(int(num_salts))).alias("_salt"),
    )
    w_local = Window.partitionBy("q_id", "_salt").orderBy(F.desc("score"), F.col("vec_id"))
    survivors = (
        scored.withColumn("_lrank", F.row_number().over(w_local))
        .filter(F.col("_lrank") <= k)
        .drop("_lrank", "_salt")
    )
    w_global = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("vec_id"))
    return survivors.withColumn("rank", F.row_number().over(w_global)).filter(F.col("rank") <= k)


def build_lsh_index(df: DataFrame, dim: int, num_bits: int = 8) -> DataFrame:
    """Assign each ``embedding`` a coarse bucket (IVF-style inverted
    file).  Persist/write this partitioned by bucket for repeated
    queries."""
    sk = hyperplane_sketch(dim, num_bits)
    return df.withColumn("bucket", sk(F.col("embedding")))


def probe_buckets(qvec: list[float], dim: int, num_bits: int, probes: int) -> list[int]:
    """The buckets an LSH query inspects: the query's own sign-sketch
    bucket plus multi-probe variants flipping the lowest-|margin| bits
    (closest to a hyperplane boundary) — the probe rule of
    :func:`ann_lsh_topk`, which the stored index's partition-pruned
    query (sources/ann_index.lsh_stored_topk) also runs."""
    import numpy as np

    from sema_spark.operators.dedup import _planes

    q = np.asarray(qvec, dtype=np.float32)
    margins = q @ _planes(dim, num_bits)
    bucket = int(sum(1 << i for i, m in enumerate(margins) if m > 0))
    order = np.argsort(np.abs(margins))
    out = {bucket}
    for i in range(min(probes - 1, num_bits)):
        out.add(bucket ^ (1 << int(order[i])))
    return sorted(int(b) for b in out)


def ann_lsh_topk(
    index_df: DataFrame,
    qvec: list[float],
    k: int = 10,
    dim: int = 64,
    num_bits: int = 8,
    probes: int = 4,
) -> DataFrame:
    """ANN top-k over a build_lsh_index output: probe the query bucket and
    its nearest variants (weakest-bit flips), :func:`cosine_topk` inside."""
    cand = index_df.filter(
        F.col("bucket").isin(probe_buckets(qvec, dim, num_bits, probes))
    )
    return cosine_topk(cand, qvec, k)
