"""Persistent IVF-Flat ANN index: build once, query many, append incrementally.

The reference engine PERSISTS its vector index and serves queries from
the stored form, maintaining it incrementally as files change
(/root/reference/src/storage/lance_indexer.rs:30-105 builds the stored
table, :107-163 queries it, and src/storage/mod.rs:30-52 keeps it in
sync).  Our in-plan ANN operators (operators/clustering.ivf_kmeans_topk,
operators/similarity.ann_lsh_topk) re-derive their index inside every
query — correct, but at 100 TB the index build dominates and must be
amortized.  This module is the stored-engine analog:

* :func:`build_ivf_index` — train the deterministic k-means quantizer
  (operators/clustering.kmeans_fit — same contract, so the stored index
  answers queries IDENTICALLY to the in-plan operator), then write

  - ``{dir}/centroids`` — k rows ``(cluster, centroid array<double>)``;
    driver-scalar sized (k×dim), read+collected per query.
  - ``{dir}/vectors``   — the corpus ``(vec_id, embedding)`` written
    ``partitionBy("cluster")``: the quantizer assignment IS the
    physical partition key, so a probe scan touches only its clusters'
    files.  At 100 TB this is the whole point — a probes/k fraction of
    the corpus is *read*, not read-then-filtered (partition pruning is
    asserted in tests/test_plans.py).

* :func:`ivf_stored_topk` — query WITHOUT retraining: collect the k×dim
  centroid table, pick the ``probes`` nearest cells driver-side (a
  scalar cost), then scan ONLY those partitions and brute-force cosine
  within them (TakeOrderedAndProject on the pruned scan).

* :func:`ivf_index_append` — incremental maintenance via the same J1
  anti-join discipline as sources/checkpoint.pending_files: new vectors
  are assigned by the FROZEN quantizer (no retrain — exactly the
  reference's incremental behavior, lance_indexer.rs:165-189 appends
  into the existing dataset) and appended to their cluster partitions;
  already-indexed ids are skipped, so re-submitting an input is a
  no-op.  Membership is the stored table's own ``vec_id`` column (a
  column-pruned read of ``vectors``): the table is the one copy of
  the index, so there is no second id list to keep in step with it.

Every writer and reader uses the fixed ``(vec_id, embedding)`` input
columns.  An ``ids/`` id list or an in-flight marker file that an older
layout left in an index dir is ignored.

Layout notes for a real cluster: ``vectors`` should additionally be
bucketed/sorted by ``vec_id`` within each cluster partition for point
lookups, and ``maxRecordsPerFile`` bounds file count per cell; both are
orthogonal to the pruning contract tested here.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sema_spark.operators.clustering import _assign_udf, kmeans_fit, probe_cells
from sema_spark.schemas import EMBEDDING_DIM, STORED_CHUNKS
from sema_spark.sources import checkpoint as ck


@contextlib.contextmanager
def _maintenance_lock(index_dir: str, wait: bool):
    """Mutual exclusion between index WRITERS (build / append / remove /
    compact) on one host: flock on ``{index_dir}/.lock`` — cross-process,
    so an append in one process and an operator-run compaction in
    another cannot interleave (the r5 race: an append landing between
    compact's read and its GC was silently discarded).  Appends WAIT
    (compactions are short); compactions raise if any writer is active
    so an operator never blocks behind a long append — retry once the
    append has finished.  The lock is the whole write protocol of the
    IVF and LSH indexes: each writer changes only ``vectors`` (plus the
    centroids or meta on a build), and their compaction swap
    (:func:`_compact_table`) needs a rename-capable filesystem; the
    semantic index compacts with the checkpoint log's append-then-GC
    (sources/checkpoint.compact), which needs no rename."""
    import fcntl

    os.makedirs(index_dir, exist_ok=True)
    fd = os.open(f"{index_dir}/.lock", os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if wait else fcntl.LOCK_NB))
        except BlockingIOError:
            raise RuntimeError(
                f"another writer holds {index_dir}/.lock — let in-flight "
                "appends finish before compacting"
            ) from None
        yield
    finally:
        os.close(fd)  # releases the flock


def _write_centroids(index_dir: str, cents: np.ndarray) -> None:
    """The centroid table is k×dim DRIVER data — write it with pyarrow
    instead of a Spark job (createDataFrame → coalesce(1) → write cost
    a full job + JVM round trip for a kilobyte of floats).  The dir is
    cleared first so a rebuild can never mix part files, and _SUCCESS
    is written last (the same commit-marker contract ivf_index_ready
    checks)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = f"{index_dir}/centroids"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    t = pa.table(
        {
            "cluster": list(range(len(cents))),
            "centroid": [[float(x) for x in c] for c in cents],
        }
    )
    pq.write_table(t, f"{d}/part-00000.parquet")
    open(f"{d}/_SUCCESS", "w").close()


def build_ivf_index(
    df: DataFrame,
    index_dir: str,
    n_clusters: int = 8,
    iterations: int = 3,
) -> np.ndarray:
    """Train the quantizer on ``df``'s ``(vec_id, embedding)`` and write
    the stored index ``(vec_id, embedding, cluster)``.

    Returns the converged centroids (driver-side k×dim ndarray).
    Vectors added later by :func:`ivf_index_append` are assigned to
    these frozen centroids.
    """
    cents, src = kmeans_fit(df, n_clusters, iterations)
    with _maintenance_lock(index_dir, wait=True):
        _write_centroids(index_dir, cents)
        (
            src.withColumn("cluster", _assign_udf(cents)(F.col("embedding")).cast("int"))
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{index_dir}/vectors")
        )
    return cents


def load_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    """Collect the stored centroid table (k×dim — a driver scalar)."""
    rows = spark.read.parquet(f"{index_dir}/centroids").orderBy("cluster").collect()
    return np.stack([np.asarray(r.centroid, dtype=np.float64) for r in rows])


def ivf_index_append(df: DataFrame, index_dir: str) -> int:
    """Append only NOT-yet-indexed vectors of ``df``'s ``(vec_id,
    embedding)``, assigned by the frozen quantizer (no retrain).
    Returns the number of rows appended; re-submitting already-indexed
    ids appends nothing (J1 anti-join against the stored ``vec_id``
    column, same discipline as checkpoint.pending_files)."""
    spark = df.sparkSession
    with _maintenance_lock(index_dir, wait=True):
        cents = load_centroids(spark, index_dir)
        return _append_new_vectors(
            df,
            index_dir,
            part_col="cluster",
            assign=_assign_udf(cents)(F.col("embedding")).cast("int"),
        )


def _append_new_vectors(df: DataFrame, index_dir: str, part_col, assign) -> int:
    """Shared append core for partition-keyed stored vector tables (IVF
    by quantizer cluster, LSH by sketch bucket): anti-join ``df``'s
    ``(vec_id, embedding)`` rows against the ids already in
    ``vectors`` and append the survivors to their partitions.  Caller
    holds the maintenance lock and supplies the frozen partition
    assignment expression.  A crash mid-append leaves none or some of
    the new rows in ``vectors``; those are served, and the next append
    anti-joins against the same table, so it appends exactly the rest."""
    from sema_spark.plans.materialize import materialize

    spark = df.sparkSession
    vectors = f"{index_dir}/vectors"
    _recover_swap(vectors)
    # the id column's type is the input's: a given schema spares the
    # footer-reading job Spark runs to infer one
    ids = StructType([df.schema["vec_id"]])
    existing = spark.read.schema(ids).parquet(vectors).select("vec_id")
    # cut so the count and the write share one anti-join execution;
    # materialize() keeps the cut mode a deployment decision (persist /
    # reliable on a cluster) instead of hardcoding localCheckpoint
    fresh = materialize(df.select("vec_id", "embedding").join(existing, "vec_id", "left_anti"))
    n = fresh.count()
    if n:
        fresh.withColumn(part_col, assign).write.mode("append").partitionBy(part_col).parquet(vectors)
    return n


def ivf_stored_topk(
    spark: SparkSession,
    index_dir: str,
    qvec,
    k: int = 10,
    probes: int = 2,
) -> DataFrame:
    """Top-k cosine over the stored index — no quantizer retrain.

    Probe selection is :func:`clustering.probe_cells` over the collected
    centroids (the in-plan operator's rule, so results match it
    bit-for-bit); the scan reads only the probed cluster partitions
    (PartitionFilters, not a post-scan filter), and
    :func:`similarity.cosine_topk` ranks them — the contract the python
    oracle replicates.
    """
    from sema_spark.operators.similarity import cosine_topk

    probe = probe_cells(load_centroids(spark, index_dir), qvec, probes)
    cand = spark.read.parquet(f"{index_dir}/vectors").where(F.col("cluster").isin(probe))
    return cosine_topk(cand, qvec, k)


def ivf_index_ready(index_dir: str) -> bool:
    """True when both stored tables have commit markers."""
    return os.path.exists(f"{index_dir}/centroids/_SUCCESS") and os.path.exists(
        f"{index_dir}/vectors/_SUCCESS"
    )


# --------------------------------------------- stored hyperplane-LSH index
#
# The persisted form of operators/similarity.build_lsh_index — whose
# docstring always said "persist/write this partitioned by bucket for
# repeated queries"; this is that write.  Same stored-engine shape as
# the IVF family above (the reference pattern:
# /root/reference/src/storage/lance_indexer.rs:30-163 stores the index
# and maintains it incrementally), but the quantizer needs no training:
# buckets are the deterministic hyperplane sign sketch, a pure function
# of (dim, num_bits), so "freezing" it is just recording those two
# params in a meta file.  A probe then READS only its buckets'
# partition files (PartitionFilters — plan-gated) instead of scanning
# and filtering.


def build_lsh_stored_index(
    df: DataFrame,
    index_dir: str,
    dim: int,
    num_bits: int = 8,
) -> None:
    """Sketch every ``(vec_id, embedding)`` row and store the table
    ``partitionBy(bucket)`` plus the (dim, num_bits) meta."""
    import json

    from sema_spark.operators.similarity import build_lsh_index

    with _maintenance_lock(index_dir, wait=True):
        (
            build_lsh_index(df.select("vec_id", "embedding"), dim=dim, num_bits=num_bits)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/vectors")
        )
        with open(f"{index_dir}/lsh_meta.json", "w") as f:
            json.dump({"dim": dim, "num_bits": num_bits}, f)


def _lsh_meta(index_dir: str) -> tuple[int, int]:
    import json

    with open(f"{index_dir}/lsh_meta.json") as f:
        m = json.load(f)
    return int(m["dim"]), int(m["num_bits"])


def lsh_index_append(df: DataFrame, index_dir: str) -> int:
    """Append NOT-yet-indexed ``(vec_id, embedding)`` rows, bucketed by
    the stored sketch params (no re-hash of existing data); the same
    anti-join against the stored ids as :func:`ivf_index_append`."""
    from sema_spark.operators.dedup import hyperplane_sketch

    with _maintenance_lock(index_dir, wait=True):
        dim, num_bits = _lsh_meta(index_dir)
        sk = hyperplane_sketch(dim, num_bits)
        return _append_new_vectors(
            df,
            index_dir,
            part_col="bucket",
            assign=sk(F.col("embedding")),
        )


def lsh_stored_topk(
    spark: SparkSession,
    index_dir: str,
    qvec,
    k: int = 10,
    probes: int = 4,
) -> DataFrame:
    """ANN top-k over the stored LSH index: :func:`similarity.ann_lsh_topk`
    over the stored ``vectors`` table with the stored ``(dim,
    num_bits)``, so results equal the in-plan operator's by
    construction.  Its bucket filter is on the partition column: the
    scan reads only the probed buckets (PartitionFilters)."""
    from sema_spark.operators.similarity import ann_lsh_topk

    dim, num_bits = _lsh_meta(index_dir)
    vectors = spark.read.parquet(f"{index_dir}/vectors")
    return ann_lsh_topk(vectors, qvec, k=k, dim=dim, num_bits=num_bits, probes=probes)


def lsh_index_ready(index_dir: str) -> bool:
    return os.path.exists(f"{index_dir}/vectors/_SUCCESS") and os.path.exists(
        f"{index_dir}/lsh_meta.json"
    )


def compact_lsh_index(spark: SparkSession, index_dir: str) -> None:
    """Compact to one file per bucket partition (raises if a writer is
    active)."""
    with _maintenance_lock(index_dir, wait=False):
        _compact_table(spark, f"{index_dir}/vectors", "bucket")


# ------------------------------------------------- stored semantic index
#
# The reference's ACTUAL index: chunk every file, embed every chunk,
# persist the chunk-embedding table, and serve interactive searches from
# the stored form (lance_indexer.rs:30-105 build; :107-163 query;
# mod.rs:30-52 keeps it in sync as files change).  Our
# `plans.pipeline.semantic_search` is the exact query; the in-plan entry
# point re-chunks and RE-ENCODES the whole corpus per call — the
# encoder UDF is the dominant cost, and it is a pure function of the
# content, so paying it per query is wrong at any scale.  The stored
# form pays chunk+encode once and makes every later search a scan of
# precomputed vectors; results are identical by construction (float32
# embeddings round-trip parquet bit-exactly, and the query scores them
# with the same cosine fold, so no per-chunk norm is stored), so the
# stored entry point grades against the same oracle as the in-plan one.
#
# The store is ONE incremental stage of sources/checkpoint under
# ``index_dir``: chunk rows are its data and its per-file checkpoint log
# is the membership and liveness state, under the KG stages' crash
# contract (data first, checkpoint last; a retry gets a fresh run_id).

_STAGE = "chunks"
# committed by every build, so even a build over an EMPTY frame has a
# log that appends accept and queries answer (an index may start empty
# and be filled by appends)
_PARAMS = f"embedding_dim={EMBEDDING_DIM}"


def _prep_docs(docs: DataFrame) -> DataFrame:
    """(repo, path, content) + the per-row sha256 invariant column."""
    return docs.select(
        "repo", "path", "content", F.sha2(F.col("content"), 256).alias("content_sha")
    )


def _chunk_rows(docs_with_sha: DataFrame) -> DataFrame:
    from sema_spark.operators.chunker import chunk_and_embed

    return chunk_and_embed(docs_with_sha, carry=("content_sha",))


def _require_index(index_dir: str) -> None:
    if not semantic_index_ready(index_dir):
        raise ValueError(f"no index at {index_dir} — build_semantic_index first (an empty frame will do)")


def live_chunks(spark: SparkSession, index_dir: str) -> DataFrame:
    """The CURRENT chunk set: the rows the checkpoint log references.
    Superseded runs, removed files and crash orphans drop out without a
    physical delete; :func:`compact_semantic_index` reclaims them.  The
    read takes the declared :data:`STORED_CHUNKS` columns, so the
    ``emb_norm`` column of an index built by an older layout is not
    read."""
    _require_index(index_dir)
    return ck.read_stage_output(spark, index_dir, _STAGE, STORED_CHUNKS)


def build_semantic_index(docs: DataFrame, index_dir: str) -> None:
    """Chunk + embed ``docs`` (repo, path, content) once and persist the
    chunk-embedding table.  Each chunk carries its file's
    ``content_sha``, the checkpoint key; the cleared stage takes the
    whole key set as one forced increment."""
    import shutil

    d = _prep_docs(docs)
    with _maintenance_lock(index_dir, wait=True):
        shutil.rmtree(f"{index_dir}/{_STAGE}", ignore_errors=True)
        ck.run_forced_incremental_stage(
            docs.sparkSession, d, _chunk_rows(d), _STAGE, index_dir, params=_PARAMS
        )


def semantic_index_append(docs: DataFrame, index_dir: str) -> int:
    """Incrementally index NEW and CHANGED files: a file is skipped only
    when its (repo, path, CONTENT-sha) is already live — matching the
    reference watcher, which hashes content and re-indexes on change
    (/root/reference/src/storage/mod.rs process_and_index_files →
    remove_file_chunks).  A changed file's new run supersedes its old
    chunks (see :func:`live_chunks`), so searches never serve stale
    chunks.  Re-submitting an unchanged corpus appends nothing (J1
    anti-join against the file-level log, NOT a chunk-table scan).
    Returns the number of newly indexed files."""
    with _maintenance_lock(index_dir, wait=True):
        _require_index(index_dir)
        return ck.run_incremental_stage(
            docs.sparkSession, _prep_docs(docs), _STAGE, index_dir, _chunk_rows
        ).input_files


def semantic_index_remove(spark: SparkSession, index_dir: str, paths: DataFrame) -> int:
    """Remove files from the index: a tombstone per live (repo, path) —
    the reference's ``remove_file_chunks``
    (/root/reference/src/storage/mod.rs) as a log write; the chunks
    leave the live set at once and their bytes are reclaimed at
    compaction.  Returns the number of live files removed."""
    with _maintenance_lock(index_dir, wait=True):
        _require_index(index_dir)
        doomed = paths.select("repo", "path").distinct().join(
            ck.current_checkpoint(spark, index_dir, _STAGE), ["repo", "path"], "left_semi"
        )
        n = doomed.count()
        if n:
            ck.delete_files(spark, index_dir, _STAGE, doomed)
        return n


def semantic_search_stored(spark: SparkSession, index_dir: str, query: str, k: int = 50) -> DataFrame:
    """Entry point B served from the stored index — no re-chunk, no
    re-encode: only the query string is encoded (driver-side literal),
    then exact cosine top-k + the per-file window over the precomputed
    chunk table (liveness-filtered: superseded and deleted files are
    never served)."""
    from sema_spark.plans.pipeline import semantic_search

    return semantic_search(spark, live_chunks(spark, index_dir), query, k=k).drop("content_sha")


def semantic_index_ready(index_dir: str) -> bool:
    """True once a build has written the index's checkpoint log (its
    directory, not a ``_SUCCESS`` marker: compaction GCs the marker)."""
    return os.path.isdir(ck._ckpt_dir(index_dir, _STAGE))


# ------------------------------------------- ANN semantic search (IVF)
#
# The scale path for entry point B: quantize the CHUNK embeddings with
# the deterministic k-means coarse quantizer and store the chunk table
# itself partitioned by cluster — a probe then reads ONLY its cells'
# chunk files (payload partition pruning, not just vector pruning).
# This is the shape of the reference's Lance IVF search
# (lance_indexer.rs:107-163 probes a stored inverted file).  With
# ``probes == n_clusters`` every cell is read and the result equals the
# exact entry point bit-for-bit (the driver-graded configuration: it
# gates the quantize/partition/prune plumbing against the exact
# oracle); with fewer probes it is a recall-dial ANN (test-gated).


def build_semantic_ann_index(
    docs: DataFrame,
    index_dir: str,
    n_clusters: int = 8,
    iterations: int = 3,
) -> None:
    """Chunk + embed once, train the quantizer on the chunk embeddings,
    and store the chunk table partitioned by its cluster assignment
    (plus the centroid table for driver-side probe selection)."""
    from sema_spark.operators.chunker import chunk_and_embed
    from sema_spark.operators.clustering import kmeans_fit
    from sema_spark.plans.materialize import materialize

    # the quantizer trains on (vec_id, embedding); a chunk's vec_id is
    # its hashed (repo, path, chunk_idx) key, dropped before the write
    chunks = materialize(
        chunk_and_embed(docs).withColumn("vec_id", F.xxhash64("repo", "path", "chunk_idx"))
    )
    cents, _ = kmeans_fit(chunks, n_clusters, iterations)
    _write_centroids(index_dir, cents)
    (
        chunks.withColumn(
            "cluster", _assign_udf(cents)(F.col("embedding")).cast("int")
        )
        .drop("vec_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{index_dir}/chunks")
    )


def semantic_search_ann(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 50,
    probes: int = 2,
) -> DataFrame:
    """Entry point B over the IVF-partitioned chunk index: encode the
    query driver-side, pick the ``probes`` nearest cells against the
    collected centroids (squared-L2, a scalar cost), scan ONLY those
    cells' chunk files, then the exact scoring + per-file window of
    :func:`plans.pipeline.semantic_search`.
    ``probes == n_clusters`` reads everything and equals the exact
    entry point bit-for-bit."""
    from sema_spark.functions.encoder import encode_query
    from sema_spark.plans.pipeline import semantic_search

    probe = probe_cells(load_centroids(spark, index_dir), encode_query(query), probes)
    cand = spark.read.parquet(f"{index_dir}/chunks").where(
        F.col("cluster").isin(probe)
    )
    return semantic_search(spark, cand, query, k=k).drop("cluster")


def semantic_ann_ready(index_dir: str) -> bool:
    return os.path.exists(f"{index_dir}/centroids/_SUCCESS") and os.path.exists(
        f"{index_dir}/chunks/_SUCCESS"
    )


# ---------------------------------------------------------- maintenance
def _compact_table(spark: SparkSession, table_dir: str, partition_by: str) -> None:
    """Rewrite a stored-index table into few large files (the Lance
    ``optimize``/compaction analog — every append above leaves one file
    set per batch, and a long-lived incrementally-maintained index
    degrades into a small-files problem without this).

    Writer exclusion is the CALLER's job (take ``_maintenance_lock``
    non-blocking — an append landing between the read and the rename
    would be silently discarded after its caller saw it succeed).
    Crash-safe on a rename-capable filesystem: the rewrite lands in a
    sibling DETERMINISTIC temp dir, then two renames swap it in, and
    :func:`_recover_swap` (run here and by every writer before touching
    the table) completes or rolls back an interrupted swap — the temp
    dir is fully written before the first rename, so whichever of
    ``.old``/temp survives a crash holds a complete copy.  On an object
    store without atomic rename, use the checkpoint log's
    append-then-GC compaction instead (sources/checkpoint.compact)."""
    import shutil

    _recover_swap(table_dir)
    df = spark.read.parquet(table_dir)
    tmp = f"{table_dir}.compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # stale partial from a crash
    # hash-cluster rows so each partition value lands in one task → one
    # output file per partition dir
    df.repartition(partition_by).write.mode("overwrite").partitionBy(partition_by).parquet(tmp)
    old = f"{table_dir}.old"
    os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old)


def _recover_swap(table_dir: str) -> None:
    """Complete or roll back an interrupted :func:`_compact_table` swap.

    Crash windows and their repair (names are deterministic, so any
    later process can finish the job — the old ``.old-<pid>`` naming
    made the r6 review's scenario PERMANENT: nothing could find the
    orphaned copy):

    * table present → any leftover ``.old`` / ``.compact-tmp`` is
      garbage from after-swap or before-swap crashes; delete them.
    * table MISSING and ``.compact-tmp/_SUCCESS`` exists → the crash
      hit between the two renames; finish: tmp → table, drop ``.old``.
    * table missing, tmp absent/partial, ``.old`` present → the crash
      hit mid-rename-1 (or tmp was already promoted then lost); roll
      back: ``.old`` → table.
    """
    import shutil

    tmp, old = f"{table_dir}.compact-tmp", f"{table_dir}.old"
    if os.path.exists(table_dir):
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        return
    if os.path.exists(f"{tmp}/_SUCCESS"):
        os.rename(tmp, table_dir)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(old):
        shutil.rmtree(tmp, ignore_errors=True)
        os.rename(old, table_dir)


def compact_ivf_index(spark: SparkSession, index_dir: str) -> None:
    """Compact the vector table to one file per cluster partition.
    Raises if another writer (build / append) is active."""
    with _maintenance_lock(index_dir, wait=False):
        _compact_table(spark, f"{index_dir}/vectors", "cluster")


def compact_semantic_index(spark: SparkSession, index_dir: str) -> None:
    """Rewrite the live chunk rows into one run and GC every older run,
    checkpoint file and crash orphan (:func:`checkpoint.compact`:
    append-then-GC, crash-safe at every step).  Raises if another writer
    (build / append / remove) is active."""
    with _maintenance_lock(index_dir, wait=False):
        ck.compact(spark, index_dir, _STAGE)
