"""Deterministic k-means over embedding columns — the coarse quantizer
a 100 TB similarity-search stack trains for IVF indexes, and the
clustering member of the dedup/ANN family (no reference analog; the
reference consumes a fixed index, cf. /root/reference/src/semantic/
embeddings.rs which embeds into a prebuilt store).

Determinism contract (what makes a value-exact cross-engine oracle
possible for an iterative float algorithm):

* init: the centroids are the vectors of the ``k`` smallest ids —
  no RNG, no data-order dependence.
* assignment: ``argmin_j(-2·x·C_j + |C_j|²)`` computed in numpy
  float64 on BOTH engines via non-optimized ``einsum`` (Arrow-batched
  UDF here, full-matrix oracle there).  ``einsum(optimize=False)``
  accumulates each output element with a plain sequential loop over
  the dim axis — unlike ``@``/BLAS gemm, whose kernel (and thus
  last-bit rounding) can change with the batch's row count — so
  results are bit-identical regardless of how rows are batched;
  ``np.argmin`` breaks distance ties toward the smallest cluster
  index on both sides.
* update: per-cluster component sums are taken in ``decimal(38,12)``
  — exact and ORDER-INDEPENDENT, where a double sum would depend on
  Spark's partitioning.  Scale 12 leaves 26 integer digits of
  headroom (a scale-30 draft overflowed Spark's decimal sum to NULL
  past ~10^8 total — only 8 integer digits); the cast DOES round
  components at 1e-12, but identically on both engines (HALF_UP on
  the shortest repr), so parity is preserved by construction.  The
  division (mean) happens driver-side in Python from the collected
  k×dim sums — both engines literally share that arithmetic, the
  same driver-scalar pattern as BPE's argmax.
* empty clusters keep their previous centroid.

Scale: per iteration one narrow Arrow-batched assignment pass over the
vectors plus one (cluster, dim) combiner-friendly aggregation shuffle
of k×dim slim rows; centroids (k×dim doubles) ride in the UDF closure
— broadcast-sized at any corpus scale.  Vectors themselves shuffle
only if the caller's layout forces it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sema_spark.plans.materialize import materialize

def _assign_udf(centroids: np.ndarray):
    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)

    # no parameter annotations (PEP-563 postponed annotations break
    # pandas_udf signature inspection in this package)
    @pandas_udf("int")
    def assign(v):
        m = np.stack(
            v.map(lambda x: np.asarray(x, dtype=np.float32).astype(np.float64))
        )
        d = -2.0 * np.einsum("nd,kd->nk", m, c, optimize=False) + c_sq[None, :]
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return assign


def kmeans(df: DataFrame, k: int = 8, iterations: int = 5) -> DataFrame:
    """(vec_id, cluster) after ``iterations`` Lloyd rounds + one final
    assignment with the converged centroids (see module docstring for
    the determinism contract)."""
    cents, src = kmeans_fit(df, k, iterations)
    return src.select(
        "vec_id", _assign_udf(cents)(F.col("embedding")).cast("bigint").alias("cluster")
    )


def kmeans_fit(df: DataFrame, k: int = 8, iterations: int = 5):
    """Train the quantizer on ``df``'s ``(vec_id, embedding)`` columns:
    returns ``(centroids ndarray, materialized (vec_id, embedding)
    source)`` — the IVF index-build half, reused by :func:`kmeans` and
    the IVF ANN query."""
    # SIZE-ADAPTIVE parallelism (r7, guide §2): a single-row-group
    # parquet arrives as ONE split, serializing every Lloyd pass (the
    # per-iteration posexplode + decimal aggregation was the measured
    # cost of the sf1.0 index build at 20k×64).  The r6 note that a
    # blanket repartition(32) was ~30% SLOWER at 2k×64 still holds — so
    # the partition count is DERIVED FROM THE ROW COUNT (~2k rows per
    # task, capped at 2×cores), which leaves tiny inputs alone and
    # parallelizes real ones; the determinism contract (batch-invariant
    # einsum, order-independent decimal sums) makes results identical
    # under any partitioning.
    src = materialize(df.select("vec_id", "embedding"))
    n_rows = src.count()
    want = min(
        2 * df.sparkSession.sparkContext.defaultParallelism, max(1, n_rows // 2048)
    )
    if want > src.rdd.getNumPartitions():
        src = materialize(src.repartition(want))
    init = src.orderBy("vec_id").limit(k).collect()
    cents = np.stack(
        [np.asarray(r.embedding, dtype=np.float32).astype(np.float64) for r in init]
    )
    dim = cents.shape[1]
    for _ in range(iterations):
        assigned = src.withColumn("_c", _assign_udf(cents)(F.col("embedding")))
        sums = (
            assigned.select("_c", F.posexplode("embedding").alias("_p", "_x"))
            .groupBy("_c", "_p")
            .agg(
                F.sum(F.col("_x").cast("double").cast("decimal(38,12)")).alias("_s"),
                F.count("*").alias("_n"),
            )
            .collect()
        )
        new_cents = cents.copy()
        by_cluster: dict[int, list] = {}
        for r in sums:
            by_cluster.setdefault(int(r._c), []).append(r)
        for j, rows in by_cluster.items():
            vec = [None] * dim
            for r in rows:
                if r._s is None:
                    # Spark's non-ANSI decimal sum returns NULL on
                    # overflow; 26 integer digits of headroom make this
                    # unreachable below ~10^26 total per component, but
                    # an opaque TypeError would hide the cause
                    raise ArithmeticError(
                        f"decimal(38,12) component sum overflowed for "
                        f"cluster {int(r._c)} dim {int(r._p)} "
                        f"(n={int(r._n)}); corpus magnitude exceeds the "
                        f"26-digit headroom — rescale the vectors"
                    )
                # identical arithmetic to oracles.kmeans_python: exact
                # decimal sum, then one float division on the driver
                vec[int(r._p)] = float(r._s) / int(r._n)
            new_cents[j] = np.array(vec, dtype=np.float64)
        cents = new_cents
    return cents, src


def probe_cells(cents: np.ndarray, qvec, probes: int) -> list[int]:
    """The ``probes`` cells whose centroids are nearest ``qvec``:
    squared-L2 on the driver (centroids are k×dim, a scalar cost), ties
    to the lower cell id.  The one probe rule of every IVF query, so the
    in-plan and stored indexes probe the same cells."""
    q = np.asarray(qvec, dtype=np.float64)
    dist = ((cents - q[None, :]) ** 2).sum(axis=1)
    return [int(x) for x in np.argsort(dist, kind="stable")[:probes]]


def ivf_kmeans_topk(
    df: DataFrame,
    qvec,
    k: int = 10,
    n_clusters: int = 8,
    iterations: int = 3,
    probes: int = 2,
) -> DataFrame:
    """IVF-Flat ANN: the k-means quantizer above as the coarse index.
    The query vector picks its ``probes`` nearest centroids
    (:func:`probe_cells`), and :func:`similarity.cosine_topk` brute-forces
    the fold cosine only inside those clusters' member lists, i.e.
    ~probes/n_clusters of the corpus; an oracle replicates the fold's
    summation order bit-for-bit (``oracles._seq_cosine``).  At 100 TB:
    the assignment column is the partition key — a stored IVF index
    clusters/bucket-sorts vectors by it so a probe reads only its
    clusters' files (partition pruning does the rest).
    """
    from sema_spark.operators.similarity import cosine_topk

    cents, src = kmeans_fit(df, n_clusters, iterations)
    probe = probe_cells(cents, qvec, probes)
    cand = src.withColumn("_c", _assign_udf(cents)(F.col("embedding"))).where(F.col("_c").isin(probe))
    return cosine_topk(cand, qvec, k)
