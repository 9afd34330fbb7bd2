"""Stored IVF index: the persisted build/query split must answer
identically to the in-plan operator, append incrementally without
retrain (and idempotently), and the probe scan must be PARTITION
PRUNED — reading only the probed clusters' files, the stored-index
scale contract (reference parity: lance_indexer.rs:30-163 builds and
queries a stored index; mod.rs:30-52 maintains it incrementally)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sema_spark.operators.clustering import _assign_udf, ivf_kmeans_topk
from sema_spark.sources.ann_index import (
    build_ivf_index,
    ivf_index_append,
    ivf_index_ready,
    ivf_stored_topk,
    load_centroids,
)


def _df(spark, ids, vecs, parts=4):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(parts)


def _blob_data(n=60, dim=6, seed=7):
    rng = np.random.default_rng(seed)
    blobs = [rng.normal(c, 0.4, size=(n // 3, dim)) for c in (-4.0, 0.0, 4.0)]
    vecs = np.stack([blobs[i % 3][i // 3] for i in range(n)]).astype(np.float32)
    return list(range(n)), vecs


def test_stored_equals_inplan(spark, tmp_path):
    ids, vecs = _blob_data()
    df = _df(spark, ids, vecs)
    q = [float(x) for x in vecs[0]]
    idx = str(tmp_path / "ivf")
    assert not ivf_index_ready(idx)
    build_ivf_index(df, idx, n_clusters=3, iterations=3)
    assert ivf_index_ready(idx)
    got = [
        (r.vec_id, r.score)
        for r in ivf_stored_topk(spark, idx, q, k=5, probes=1).collect()
    ]
    exp = [
        (r.vec_id, r.score)
        for r in ivf_kmeans_topk(
            df, q, k=5, n_clusters=3, iterations=3, probes=1
        ).collect()
    ]
    assert got == exp and got[0][0] == 0


def test_append_is_incremental_and_idempotent(spark, tmp_path):
    ids, vecs = _blob_data()
    half = _df(spark, ids[:30], vecs[:30])
    full = _df(spark, ids, vecs)
    idx = str(tmp_path / "ivf")
    cents = build_ivf_index(half, idx, n_clusters=3, iterations=3)

    # frozen quantizer: append assigns with the SAME centroids
    assert ivf_index_append(full, idx) == 30
    assert np.allclose(load_centroids(spark, idx), cents)
    # re-submitting the same input is a no-op (J1 anti-join)
    assert ivf_index_append(full, idx) == 0

    stored = spark.read.parquet(f"{idx}/vectors")
    assert stored.count() == 60
    assert stored.select("vec_id").distinct().count() == 60
    # every row's partition equals the frozen-quantizer assignment
    expected = full.select(
        "vec_id", _assign_udf(cents)(F.col("embedding")).cast("int").alias("exp_c")
    )
    mismatch = (
        stored.select("vec_id", "cluster")
        .join(expected, "vec_id")
        .where(F.col("cluster") != F.col("exp_c"))
        .count()
    )
    assert mismatch == 0

    # stored query over the incrementally-built index == brute force
    # over the frozen assignments restricted to the probed cell
    q = [float(x) for x in vecs[1]]
    got = [
        (r.vec_id, r.score)
        for r in ivf_stored_topk(spark, idx, q, k=5, probes=1).collect()
    ]
    qn = np.asarray(q, dtype=np.float64)
    dist = ((cents - qn[None, :]) ** 2).sum(axis=1)
    probe = int(np.argsort(dist, kind="stable")[0])
    members = {
        r.vec_id
        for r in expected.where(F.col("exp_c") == probe).collect()
    }
    assert got and all(i in members for i, _ in got)
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    ids, vecs = _blob_data()
    idx = str(tmp_path / "ivf")
    build_ivf_index(_df(spark, ids, vecs), idx, n_clusters=3, iterations=3)
    q = [float(x) for x in vecs[0]]
    plan = (
        ivf_stored_topk(spark, idx, q, k=5, probes=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # pruning happens at the scan (PartitionFilters), not as a
    # post-scan Filter over all partitions
    assert "PartitionFilters: [" in plan
    assert "cluster" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # and the query is a top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_incremental_matches_python_oracle(spark, tmp_path):
    """Train-on-half → frozen-assign-all → probe: the Spark stored path
    and the independent python replica must agree value-exactly."""
    from sema_spark.oracles import ivf_incremental_topk_python

    ids, vecs = _blob_data(n=66, dim=6, seed=13)
    emb = _df(spark, ids, vecs)
    half = len(ids) // 2
    idx = str(tmp_path / "ivf_incr")
    build_ivf_index(
        emb.where(F.col("vec_id") < half), idx, n_clusters=3, iterations=3
    )
    assert ivf_index_append(emb, idx) == len(ids) - half
    q = [float(x) for x in vecs[0]]
    got = [
        (r.vec_id, r.score)
        for r in ivf_stored_topk(spark, idx, q, k=7, probes=2).collect()
    ]
    exp = ivf_incremental_topk_python(
        ids, vecs, q, half, k=7, n_clusters=3, iterations=3, probes=2
    )
    assert got == exp


def test_semantic_index_build_append_query(spark, tmp_path):
    """Stored chunk-embedding index: incremental build converges to the
    one-shot table, re-append is a no-op, and the stored query equals
    the in-plan semantic_search exactly — also for an index built over
    an EMPTY frame, which queries answer with no rows and appends fill."""
    from sema_spark.operators.chunker import chunk_and_embed
    from sema_spark.plans.pipeline import semantic_search
    from sema_spark.sources.ann_index import (
        build_semantic_index,
        semantic_index_append,
        semantic_index_ready,
        semantic_index_remove,
        semantic_search_stored,
    )

    docs = spark.createDataFrame(
        [
            ("r1", f"f{i}.py", ("def spark_shuffle_join():\n    pass\n" * 8) + f"# doc {i}\n")
            for i in range(12)
        ],
        "repo string, path string, content string",
    )
    idx = str(tmp_path / "sem")
    assert not semantic_index_ready(idx)
    # maintenance and queries on a directory with no index fail loudly
    for no_index in (
        lambda: semantic_index_append(docs, idx),
        lambda: semantic_index_remove(spark, idx, docs.select("repo", "path")),
        lambda: semantic_search_stored(spark, idx, "spark shuffle join"),
    ):
        with pytest.raises(ValueError, match="no index"):
            no_index()
    q = "spark shuffle join"
    exp = semantic_search(spark, chunk_and_embed(docs), q, k=10).collect()
    key = lambda r: (r.repo, r.path, r.start_line, r.score, r.matches_in_file)
    for i, seed in enumerate((docs.where(F.col("path").isin("f0.py", "f1.py", "f2.py")), docs.limit(0))):
        idx = str(tmp_path / f"sem{i}")
        build_semantic_index(seed, idx)
        assert semantic_index_ready(idx)
        n_seeded = seed.count()
        if n_seeded == 0:
            assert semantic_search_stored(spark, idx, q, k=10).count() == 0
        assert semantic_index_append(docs, idx) == 12 - n_seeded  # only the new files
        assert semantic_index_append(docs, idx) == 0  # idempotent

        stored_chunks = spark.read.parquet(f"{idx}/chunks/data")
        assert stored_chunks.count() == chunk_and_embed(docs).count()

        got = semantic_search_stored(spark, idx, q, k=10).collect()
        assert sorted(map(key, got)) == sorted(map(key, exp)) and got


def _sem_docs(spark, n=8):
    return spark.createDataFrame(
        [
            ("r1", f"f{i}.py", ("def spark_shuffle_join():\n    pass\n" * 8) + f"# doc {i}\n")
            for i in range(n)
        ],
        "repo string, path string, content string",
    )


def test_append_retry_after_payload_crash_serves_no_duplicates(spark, tmp_path):
    """Crash after an append's chunk rows landed but before its
    checkpoint rows, then RETRY the same batch: the orphan run is never
    live, the retry commits under a fresh run_id, so exactly one copy of
    each chunk is ever live, and compaction GCs the orphans."""
    from sema_spark.sources.ann_index import (
        _chunk_rows,
        _prep_docs,
        build_semantic_index,
        compact_semantic_index,
        live_chunks,
        semantic_index_append,
    )
    from sema_spark.sources.checkpoint import new_run_id

    docs = _sem_docs(spark)
    idx = str(tmp_path / "sem")
    build_semantic_index(docs.where(F.col("path") < "f4"), idx)
    n_built = live_chunks(spark, idx).count()

    # simulate the crashed append of the remaining files: an orphan data
    # run that no checkpoint row references
    batch = _prep_docs(docs.where(F.col("path") >= "f4"))
    (
        _chunk_rows(batch)
        .withColumn("run_id", F.lit(new_run_id()))
        .write.mode("append")
        .partitionBy("run_id")
        .parquet(f"{idx}/chunks/data")
    )
    assert live_chunks(spark, idx).count() == n_built  # the orphan is not live

    assert semantic_index_append(docs, idx) == 4
    live = live_chunks(spark, idx)
    per_chunk = live.groupBy("repo", "path", "start_line").count()
    assert per_chunk.where(F.col("count") > 1).count() == 0
    n_live = live.count()
    total_before = spark.read.parquet(f"{idx}/chunks/data").count()
    assert total_before > n_live  # orphans physically present
    compact_semantic_index(spark, idx)
    assert spark.read.parquet(f"{idx}/chunks/data").count() == n_live


def test_compaction_preserves_answers(spark, tmp_path):
    """Repeated appends fragment the stored tables; compaction rewrites
    them into few files and must change NOTHING about query answers."""
    import glob

    from sema_spark.sources.ann_index import (
        compact_ivf_index,
        compact_semantic_index,
        build_semantic_index,
        semantic_index_append,
        semantic_search_stored,
    )

    ids, vecs = _blob_data(n=60, dim=6, seed=7)
    idx = str(tmp_path / "ivf")
    build_ivf_index(_df(spark, ids[:20], vecs[:20]), idx, n_clusters=3, iterations=3)
    ivf_index_append(_df(spark, ids[:40], vecs[:40]), idx)
    ivf_index_append(_df(spark, ids, vecs), idx)
    q = [float(x) for x in vecs[0]]
    before = [(r.vec_id, r.score) for r in ivf_stored_topk(spark, idx, q, k=5, probes=2).collect()]
    n_files_before = len(glob.glob(f"{idx}/vectors/cluster=*/*.parquet"))
    compact_ivf_index(spark, idx)
    n_files_after = len(glob.glob(f"{idx}/vectors/cluster=*/*.parquet"))
    after = [(r.vec_id, r.score) for r in ivf_stored_topk(spark, idx, q, k=5, probes=2).collect()]
    assert after == before and before
    assert n_files_after < n_files_before
    assert spark.read.parquet(f"{idx}/vectors").count() == 60

    docs = spark.createDataFrame(
        [("r", f"f{i}.py", "def spark_query_plan():\n    pass\n" * 10) for i in range(9)],
        "repo string, path string, content string",
    )
    sidx = str(tmp_path / "sem")
    build_semantic_index(docs.limit(3), sidx)
    semantic_index_append(docs.limit(6), sidx)
    semantic_index_append(docs, sidx)
    sq = "spark query plan"
    sbefore = [(r.path, r.start_line, r.score) for r in semantic_search_stored(spark, sidx, sq, k=5).collect()]
    compact_semantic_index(spark, sidx)
    safter = [(r.path, r.start_line, r.score) for r in semantic_search_stored(spark, sidx, sq, k=5).collect()]
    assert safter == sbefore and sbefore
    assert len(glob.glob(f"{sidx}/chunks/data/run_id=*")) == 1


def test_semantic_ann_allprobe_equals_exact_and_prunes(spark, tmp_path):
    """probes == n_clusters equals the exact entry point; probes == 1
    still finds a planted near-duplicate (its cell must contain it) and
    the candidate scan is partition-pruned."""
    from sema_spark.operators.chunker import chunk_and_embed
    from sema_spark.plans.pipeline import semantic_search
    from sema_spark.sources.ann_index import (
        build_semantic_ann_index,
        semantic_search_ann,
    )

    # three well-separated text families → well-separated embedding cells
    fams = [
        "def spark_shuffle_join_window():\n    return shuffle\n",
        "SELECT revenue, discount FROM lineitem WHERE tax > 0;\n",
        "image audio video frame codec pixel sample rate\n",
    ]
    docs = spark.createDataFrame(
        [(f"r{j}", f"f{j}_{i}.txt", fams[j] * (8 + i)) for j in range(3) for i in range(6)],
        "repo string, path string, content string",
    )
    idx = str(tmp_path / "semann")
    build_semantic_ann_index(docs, idx, n_clusters=3, iterations=3)

    q = "spark shuffle join window"
    exact = semantic_search(spark, chunk_and_embed(docs), q, k=8).collect()
    allp = semantic_search_ann(spark, idx, q, k=8, probes=3).collect()
    key = lambda r: (r.repo, r.path, r.start_line, r.score, r.matches_in_file)
    assert sorted(map(key, allp)) == sorted(map(key, exact)) and exact

    one = semantic_search_ann(spark, idx, q, k=8, probes=1).collect()
    assert one and one[0].repo == "r0"  # the query's family is found
    # every 1-probe hit is a genuine exact hit too (subset property on
    # this separated corpus)
    assert {(r.repo, r.path) for r in one} <= {(r.repo, r.path) for r in exact}

    plan = (
        semantic_search_ann(spark, idx, q, k=8, probes=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "cluster" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_semantic_ann_build_takes_the_writer_lock(spark, tmp_path, monkeypatch):
    """build_semantic_ann_index writes its centroids and its chunk table
    under the index dir's writer lock, like every other index writer: two
    concurrent builds into one dir must not leave one build's centroids
    beside the other build's cluster partitions."""
    import contextlib

    from sema_spark.sources import ann_index as A

    entered, held = [], []
    lock, write_centroids = A._maintenance_lock, A._write_centroids

    @contextlib.contextmanager
    def recording_lock(index_dir, wait):
        entered.append((index_dir, wait))
        with lock(index_dir, wait):
            held.append(index_dir)
            try:
                yield
            finally:
                held.pop()

    def recording_centroids(index_dir, cents):
        assert held == [index_dir]
        write_centroids(index_dir, cents)

    monkeypatch.setattr(A, "_maintenance_lock", recording_lock)
    monkeypatch.setattr(A, "_write_centroids", recording_centroids)
    docs = _docs_df(
        spark, [("r", f"f{i}.txt", f"spark shuffle join window {i}\n" * 8) for i in range(4)]
    )
    idx = str(tmp_path / "semann")
    A.build_semantic_ann_index(docs, idx, n_clusters=2, iterations=1)
    assert entered == [(idx, True)] and A.semantic_ann_ready(idx)


# ------------------------- round-6 maintenance semantics (ADVICE r5) --


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "repo string, path string, content string")


def _live_paths(spark, idx, q, k=20):
    from sema_spark.sources.ann_index import semantic_search_stored

    return {r.path for r in semantic_search_stored(spark, idx, q, k=k).collect()}


def test_semantic_index_reindexes_changed_content(spark, tmp_path):
    """The r5 gap (ADVICE): a file whose CONTENT changed was skipped
    forever.  Now (repo, path, content_sha) membership re-indexes it
    and the liveness join retires the stale generation."""
    from sema_spark.sources.ann_index import (
        build_semantic_index,
        live_chunks,
        semantic_index_append,
        semantic_search_stored,
    )

    old = "def spark_shuffle_join():\n    pass\n" * 8
    new = "def kafka_stream_sink():\n    pass\n" * 8
    docs_v1 = _docs_df(spark, [("r", "a.py", old), ("r", "b.py", old)])
    idx = str(tmp_path / "sem")
    build_semantic_index(docs_v1, idx)

    # unchanged re-append: no-op
    assert semantic_index_append(docs_v1, idx) == 0
    # a.py changes content: exactly one file re-indexed
    docs_v2 = _docs_df(spark, [("r", "a.py", new), ("r", "b.py", old)])
    assert semantic_index_append(docs_v2, idx) == 1
    assert semantic_index_append(docs_v2, idx) == 0  # idempotent at v2

    live = live_chunks(spark, idx)
    shas = {r.path: r.content_sha for r in live.select("path", "content_sha").distinct().collect()}
    import hashlib

    assert shas["a.py"] == hashlib.sha256(new.encode()).hexdigest()
    assert shas["b.py"] == hashlib.sha256(old.encode()).hexdigest()
    # searches rank a.py by its NEW content only (stale chunks would
    # put a.py's old spark-shuffle text at the top of the second query)
    top_kafka = semantic_search_stored(spark, idx, "kafka stream sink", k=1).collect()
    top_spark = semantic_search_stored(spark, idx, "spark shuffle join", k=1).collect()
    assert top_kafka[0].path == "a.py"
    assert top_spark[0].path == "b.py"
    # stale generation rows exist physically but are never live
    raw = spark.read.parquet(f"{idx}/chunks/data")
    assert raw.count() > live.count()


def test_semantic_index_remove_and_reindex(spark, tmp_path):
    """Deleted files leave the serving set (the reference's
    remove_file_chunks); re-adding the path later re-indexes it."""
    from sema_spark.sources.ann_index import (
        build_semantic_index,
        semantic_index_append,
        semantic_index_remove,
    )

    body = "def spark_shuffle_join():\n    pass\n" * 8
    docs = _docs_df(spark, [("r", "a.py", body), ("r", "b.py", body)])
    idx = str(tmp_path / "sem")
    build_semantic_index(docs, idx)

    gone = spark.createDataFrame([("r", "a.py")], "repo string, path string")
    assert semantic_index_remove(spark, idx, gone) == 1
    assert semantic_index_remove(spark, idx, gone) == 0  # idempotent
    assert _live_paths(spark, idx, "spark shuffle join") == {"b.py"}
    # re-add after delete: re-indexed at a fresh generation
    assert semantic_index_append(docs, idx) == 1
    assert _live_paths(spark, idx, "spark shuffle join") == {"a.py", "b.py"}


def test_semantic_compaction_gcs_dead_generations(spark, tmp_path):
    """Compaction physically drops superseded/deleted chunk rows and
    shrinks the checkpoint log, answers unchanged."""
    from sema_spark.sources.ann_index import (
        build_semantic_index,
        compact_semantic_index,
        live_chunks,
        semantic_index_append,
        semantic_index_remove,
        semantic_search_stored,
    )
    from sema_spark.sources.checkpoint import file_rows, read_checkpoint_log

    old = "def spark_shuffle_join():\n    pass\n" * 8
    new = "def kafka_stream_sink():\n    pass\n" * 8
    idx = str(tmp_path / "sem")
    build_semantic_index(
        _docs_df(spark, [("r", "a.py", old), ("r", "b.py", old), ("r", "c.py", old)]), idx
    )
    semantic_index_append(_docs_df(spark, [("r", "a.py", new)]), idx)
    semantic_index_remove(spark, idx, spark.createDataFrame([("r", "c.py")], "repo string, path string"))

    before = [
        (r.path, r.start_line, r.score)
        for r in semantic_search_stored(spark, idx, "spark shuffle join", k=10).collect()
    ]
    n_live = live_chunks(spark, idx).count()
    assert spark.read.parquet(f"{idx}/chunks/data").count() > n_live
    compact_semantic_index(spark, idx)
    assert spark.read.parquet(f"{idx}/chunks/data").count() == n_live
    log = file_rows(read_checkpoint_log(spark, idx, "chunks"))
    assert log.count() == 2  # a.py, b.py latest only
    after = [
        (r.path, r.start_line, r.score)
        for r in semantic_search_stored(spark, idx, "spark shuffle join", k=10).collect()
    ]
    assert after == before and before


def _tree(d):
    """Every file under ``d`` with its size and mtime."""
    import os

    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_noop_append_reads_log_and_writes_nothing(spark, tmp_path, monkeypatch):
    """A no-op semantic append reads membership from the file-level
    log, never the chunk payload; a no-op IVF append (membership is the
    stored ``vec_id`` column) writes no file under its index dir."""
    from sema_spark.sources import ann_index as A

    body = "def spark_shuffle_join():\n    pass\n" * 8
    docs = _docs_df(spark, [("r", f"f{i}.py", body + f"# {i}\n") for i in range(4)])
    sidx = str(tmp_path / "sem")
    A.build_semantic_index(docs, sidx)

    ids, vecs = _blob_data(n=30)
    vidx = str(tmp_path / "ivf")
    build_ivf_index(_df(spark, ids, vecs), vidx, n_clusters=3, iterations=2)

    from pyspark.sql.readwriter import DataFrameReader

    seen = []
    orig = DataFrameReader.parquet

    def spy(self, *paths):
        seen.extend(paths)
        return orig(self, *paths)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert A.semantic_index_append(docs, sidx) == 0
    assert [p for p in seen if p.endswith("/chunks/data")] == []
    assert any(p.endswith("/chunks/checkpoint") for p in seen)

    before = _tree(vidx)
    assert A.ivf_index_append(_df(spark, ids, vecs), vidx) == 0
    assert _tree(vidx) == before


def test_older_layout_index_dirs_keep_working(spark, tmp_path):
    """An IVF or LSH index dir written by the older layout also holds an
    ``ids/`` copy of the stored ids and may hold a leftover
    ``.append-inflight`` marker; an older stored semantic index holds an
    extra ``emb_norm`` chunk column.  All are ignored: answers are
    unchanged, a no-op append appends nothing and a real append adds
    exactly the new ids (files)."""
    from sema_spark.sources.ann_index import (
        build_lsh_stored_index,
        lsh_index_append,
        lsh_stored_topk,
    )

    ids, vecs = _blob_data(n=60, dim=6)
    q = [float(x) for x in vecs[0]]
    cases = [
        ("ivf", lambda d, idx: build_ivf_index(d, idx, n_clusters=3, iterations=2),
         ivf_index_append, ivf_stored_topk),
        ("lsh", lambda d, idx: build_lsh_stored_index(d, idx, dim=6, num_bits=4),
         lsh_index_append, lsh_stored_topk),
    ]
    for name, build, append, topk in cases:
        idx = str(tmp_path / name)
        build(_df(spark, ids[:40], vecs[:40]), idx)
        fresh = [(r.vec_id, r.score) for r in topk(spark, idx, q, k=5, probes=2).collect()]
        # the older layout: a one-column copy of the stored ids beside
        # the vectors, plus the marker a crashed append left behind
        spark.read.parquet(f"{idx}/vectors").select("vec_id").write.parquet(f"{idx}/ids")
        open(f"{idx}/.append-inflight", "w").close()

        got = [(r.vec_id, r.score) for r in topk(spark, idx, q, k=5, probes=2).collect()]
        assert got == fresh and got
        assert append(_df(spark, ids[:40], vecs[:40]), idx) == 0
        assert append(_df(spark, ids, vecs), idx) == 20
        stored = sorted(r.vec_id for r in spark.read.parquet(f"{idx}/vectors").collect())
        assert stored == ids

    # stored semantic index: the older layout's chunk rows also carry a
    # precomputed ``emb_norm`` double column, which reads ignore
    import glob
    import shutil

    from hof_oracles import l2_norm

    from sema_spark.sources.ann_index import (
        build_semantic_index,
        live_chunks,
        semantic_index_append,
        semantic_search_stored,
    )

    docs = _sem_docs(spark)
    built = docs.where(F.col("path") != "f7.py")
    fresh, idx = str(tmp_path / "sem_fresh"), str(tmp_path / "sem_old")
    build_semantic_index(built, fresh)
    build_semantic_index(built, idx)
    (run,) = glob.glob(f"{idx}/chunks/data/run_id=*")
    spark.read.parquet(run).withColumn("emb_norm", l2_norm("embedding")).write.parquet(f"{run}.old")
    shutil.rmtree(run)
    shutil.move(f"{run}.old", run)
    assert "emb_norm" in spark.read.parquet(run).columns

    q = "spark shuffle join"
    got, want = (semantic_search_stored(spark, d, q, k=10) for d in (idx, fresh))
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())) and want.count()
    assert semantic_index_append(built, idx) == 0
    assert semantic_index_append(docs, idx) == 1
    assert live_chunks(spark, idx).where(F.col("path") == "f7.py").count() > 0


def test_compaction_refuses_while_writer_active(spark, tmp_path):
    """ADVICE r5: compaction racing an append/stream silently discarded
    its rows — now both take the index lock; compact raises instead of
    waiting behind an active writer."""
    import fcntl
    import os

    import pytest

    from sema_spark.sources.ann_index import build_semantic_index, compact_semantic_index

    body = "def spark_shuffle_join():\n    pass\n" * 8
    idx = str(tmp_path / "sem")
    with pytest.raises(ValueError, match="no index"):  # nothing built to compact
        compact_semantic_index(spark, idx)
    build_semantic_index(_docs_df(spark, [("r", "a.py", body)]), idx)

    fd = os.open(f"{idx}/.lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(RuntimeError, match="another writer"):
            compact_semantic_index(spark, idx)
    finally:
        os.close(fd)
    compact_semantic_index(spark, idx)  # lock released -> succeeds


def test_lsh_stored_index_equals_inplan_and_prunes(spark, tmp_path):
    """Stored hyperplane-LSH index (VERDICT r5 missing #3): answers
    equal the in-plan ann_lsh_topk (shared probe selection), appends
    are incremental + idempotent, and the probe scan is partition-
    pruned on bucket."""
    from sema_spark.operators.similarity import ann_lsh_topk, build_lsh_index
    from sema_spark.sources.ann_index import (
        build_lsh_stored_index,
        compact_lsh_index,
        lsh_index_append,
        lsh_index_ready,
        lsh_stored_topk,
    )

    ids, vecs = _blob_data(n=60, dim=6)
    df = _df(spark, ids, vecs)
    idx = str(tmp_path / "lsh")
    assert not lsh_index_ready(idx)
    build_lsh_stored_index(_df(spark, ids[:40], vecs[:40]), idx, dim=6, num_bits=4)
    assert lsh_index_ready(idx)
    assert lsh_index_append(df, idx) == 20
    assert lsh_index_append(df, idx) == 0  # idempotent

    inplan = build_lsh_index(df, dim=6, num_bits=4)
    for probes, q in [(1, vecs[0]), (3, vecs[1]), (16, vecs[2])]:
        qv = [float(x) for x in q]
        got = [(r.vec_id, r.score) for r in lsh_stored_topk(spark, idx, qv, k=5, probes=probes).collect()]
        exp = [
            (r.vec_id, r.score)
            for r in ann_lsh_topk(inplan, qv, k=5, dim=6, num_bits=4, probes=probes).collect()
        ]
        assert got == exp and got

    plan = (
        lsh_stored_topk(spark, idx, [float(x) for x in vecs[0]], k=5, probes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]

    before = [(r.vec_id, r.score) for r in lsh_stored_topk(spark, idx, [float(x) for x in vecs[3]], k=5, probes=4).collect()]
    compact_lsh_index(spark, idx)
    after = [(r.vec_id, r.score) for r in lsh_stored_topk(spark, idx, [float(x) for x in vecs[3]], k=5, probes=4).collect()]
    assert after == before
    assert spark.read.parquet(f"{idx}/vectors").count() == 60
