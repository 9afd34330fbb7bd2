import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
from pyspark.sql.types import StringType, StructField, StructType

from sema_spark.corpus import corpus_df
from sema_spark.operators.mentions import extract_triples, with_content_sha
from sema_spark.schemas import CHECKPOINT, LINEAGE, TRIPLES
from sema_spark.sources import checkpoint as ck

# the declared schemas of the ad-hoc ``nodes`` snapshot stages below
NODE_KEYS = StructType(
    [StructField("repo", StringType(), False), StructField("path", StringType(), False)]
)
NODE_KINDS = StructType(NODE_KEYS.fields + [StructField("kind", StringType(), False)])


@pytest.fixture()
def src(spark):
    return with_content_sha(corpus_df(spark, "xs"))


def _transform(pending):
    return extract_triples(pending)


def test_incremental_run_and_skip(spark, src, tmp_path):
    base = str(tmp_path / "kg")
    r1 = ck.run_incremental_stage(spark, src, "triples", base, _transform)
    assert not r1.skipped and r1.output_rows > 0
    out1 = ck.read_stage_output(spark, base, "triples", TRIPLES)
    n1 = out1.count()
    assert n1 == r1.output_rows

    # identical rerun → everything skipped, snapshot unchanged
    r2 = ck.run_incremental_stage(spark, src, "triples", base, _transform)
    assert r2.skipped and r2.input_files == 0
    assert ck.read_stage_output(spark, base, "triples", TRIPLES).count() == n1


def test_changed_file_supersedes(spark, src, tmp_path):
    base = str(tmp_path / "kg")
    ck.run_incremental_stage(spark, src, "triples", base, _transform)
    before = {
        (r.subj, r.pred, r.obj)
        for r in ck.read_stage_output(spark, base, "triples", TRIPLES)
        .filter("path = 'src/m0.py' and repo = 'org0/proj0'")
        .collect()
    }
    assert before

    mutated = with_content_sha(
        src.drop("content_sha").withColumn(
            "content",
            F.when(
                (F.col("repo") == "org0/proj0") & (F.col("path") == "src/m0.py"),
                F.lit('"""changed."""\nimport zz_new_module\n# padding to pass the fifty char guard\n'),
            ).otherwise(F.col("content")),
        )
    )
    r = ck.run_incremental_stage(spark, mutated, "triples", base, _transform)
    assert r.input_files == 1  # only the changed file reprocessed
    after_rows = (
        ck.read_stage_output(spark, base, "triples", TRIPLES)
        .filter("path = 'src/m0.py' and repo = 'org0/proj0'")
        .collect()
    )
    after = {(r.subj, r.pred, r.obj) for r in after_rows}
    assert after == {("org0/proj0/src/m0.py", "imports", "zz_new_module")}
    assert not (before & after)  # old rows invisible


def test_crash_before_checkpoint_reprocesses(spark, src, tmp_path):
    """Data written, checkpoint append never happened → rows invisible,
    rerun re-processes (reference ordering, src/storage/mod.rs:59-67)."""
    base = str(tmp_path / "kg")
    orphan_rid = "00000000T000000-deadbeef"
    _transform(src).withColumn("run_id", F.lit(orphan_rid)).write.mode("append").partitionBy(
        "run_id"
    ).parquet(f"{base}/triples/data")
    # orphan rows are not visible
    assert ck.current_checkpoint(spark, base, "triples").count() == 0
    assert ck.read_stage_output(spark, base, "triples", TRIPLES).count() == 0
    # rerun processes everything (never skips unprocessed work)
    r = ck.run_incremental_stage(spark, src, "triples", base, _transform)
    assert not r.skipped
    assert ck.read_stage_output(spark, base, "triples", TRIPLES).count() == r.output_rows


def test_tombstone_delete(spark, src, tmp_path):
    base = str(tmp_path / "kg")
    ck.run_incremental_stage(spark, src, "triples", base, _transform)
    victim = spark.createDataFrame([("org0/proj0", "src/m0.py")], "repo string, path string")
    ck.delete_files(spark, base, "triples", victim)
    out = ck.read_stage_output(spark, base, "triples", TRIPLES)
    assert out.filter("repo = 'org0/proj0' and path = 'src/m0.py'").count() == 0
    assert out.count() > 0


def test_lineage_rows(spark, src, tmp_path):
    base = str(tmp_path / "kg")
    r = ck.run_incremental_stage(spark, src, "triples", base, _transform)
    lin = ck.read_lineage(spark, base, "triples")
    rows = lin.filter(F.col("run_id") == r.run_id).collect()
    assert rows and sum(x.rows for x in rows) == r.output_rows


def _local_scan(df) -> bool:
    """The frame is read in the JVM from a driver-built local relation:
    a LocalTableScan, with no PythonRDD for a Python worker to unpickle."""
    qe = df._jdf.queryExecution()
    return (
        "LocalTableScan" in qe.executedPlan().toString()
        and "PythonRDD" not in qe.toRdd().toDebugString()
    )


def test_driver_built_frames_are_local_scans(spark, src, tmp_path, monkeypatch):
    """Commit marker rows, lineage rows and the empty frame of an absent
    log are one-batch local relations with the exact LINEAGE and
    checkpoint-log schemas; a zero-row increment commits its files with
    output_rows == 0 and no lineage row.  An absent log answers "no
    params" and "no snapshot" without a Spark job."""
    log_schema = StructType(CHECKPOINT.fields + [StructField("run_id", StringType(), False)])
    base = str(tmp_path / "kg")
    absent = ck.read_checkpoint_log(spark, base, "nodes")
    assert absent.schema == log_schema and _local_scan(absent)
    assert ck.read_lineage(spark, base, "nodes").schema == LINEAGE
    sc = spark.sparkContext
    sc.setJobGroup("absent-log", "absent-log reads")
    try:
        assert ck.latest_params(spark, base, "nodes") is None
        with pytest.raises(FileNotFoundError):
            ck.read_snapshot(spark, base, "nodes", NODE_KEYS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("absent-log")

    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        written.append((path.rsplit("/", 1)[-1], self._df))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    keys = src.select("repo", "path", "content_sha")
    run = ck.run_snapshot_stage(
        spark, ck.input_fingerprint(keys), "nodes", base, lambda: _transform(src)
    )
    frames = {name: df for name, df in written if name != "data"}
    assert set(frames) == {"lineage", "checkpoint"}
    assert frames["lineage"].schema == LINEAGE and frames["checkpoint"].schema == log_schema
    assert all(_local_scan(df) for df in frames.values())
    assert sum(r.rows for r in frames["lineage"].collect()) == run.output_rows > 0

    # a zero-row increment: its files commit, with no data and no lineage row
    written.clear()
    run = ck.run_forced_incremental_stage(
        spark, keys, _transform(src).limit(0), "triples", base, params="p=1"
    )
    assert run.output_rows == 0 and run.input_files == keys.distinct().count()
    assert [name for name, _ in written] == ["data", "checkpoint"]
    assert ck.read_lineage(spark, base, "triples").count() == 0
    assert ck.current_checkpoint(spark, base, "triples").count() == run.input_files
    assert ck.latest_params(spark, base, "triples") == "p=1"

    # a params-only commit appends the marker row alone
    written.clear()
    ck.run_forced_incremental_stage(
        spark, keys.limit(0), src.limit(0), "triples", base, params="p=2"
    )
    (name, marker), = written
    assert name == "checkpoint" and marker.schema == log_schema and _local_scan(marker)
    assert ck.latest_params(spark, base, "triples") == "p=2"


def test_absent_paths_are_never_read(spark, tmp_path, monkeypatch):
    """An absent log or data dir is decided on the driver: Spark is never
    handed the path (it would log a WARN with a full
    FileNotFoundException trace before raising PATH_NOT_FOUND), and the
    reads of a fresh base answer empty frames with their exact schemas."""
    import os

    parquet = DataFrameReader.parquet

    def existing_only(self, *paths, **kwargs):
        missing = [p for p in paths if not os.path.exists(p)]
        assert not missing, f"spark.read handed absent paths {missing}"
        return parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", existing_only)
    log_schema = StructType(CHECKPOINT.fields + [StructField("run_id", StringType(), False)])
    base = str(tmp_path / "kg")
    log = ck.read_checkpoint_log(spark, base, "triples")
    assert log.schema == log_schema and log.count() == 0
    out = ck.read_stage_output(spark, base, "triples", schema=TRIPLES)
    assert out.schema == TRIPLES and out.count() == 0
    lin = ck.read_lineage(spark, base, "triples")
    assert lin.schema == LINEAGE and lin.count() == 0


def _fragmented_stage(spark, src, base):
    """An incremental ``triples`` stage with two data runs — the full
    source, then one changed file superseding its first version — and
    one tombstoned file."""
    ck.run_incremental_stage(spark, src, "triples", base, _transform)
    mutated = with_content_sha(
        src.drop("content_sha").withColumn(
            "content",
            F.when(
                (F.col("repo") == "org0/proj0") & (F.col("path") == "src/m0.py"),
                F.lit('"""changed."""\nimport zz_compact\n# padding to pass the fifty char guard\n'),
            ).otherwise(F.col("content")),
        )
    )
    ck.run_incremental_stage(spark, mutated, "triples", base, _transform)
    victim = spark.createDataFrame([("org0/proj0", "src/m1.py")], "repo string, path string")
    ck.delete_files(spark, base, "triples", victim)


def _live_triples(spark, base):
    """The stage's live rows as a sorted list (duplicates count)."""
    rows = (
        ck.read_stage_output(spark, base, "triples", TRIPLES).select("subj", "pred", "obj").collect()
    )
    return sorted(tuple(r) for r in rows)


def test_compact_incremental_stage(spark, src, tmp_path):
    """compact() rewrites the log-structured stage to one live run and
    SWAPS it in: snapshot identical, superseded/tombstoned rows gone
    from disk, checkpoint log collapsed to the compacted run."""
    base = str(tmp_path / "kg")
    _fragmented_stage(spark, src, base)
    before = _live_triples(spark, base)
    raw_before = spark.read.parquet(f"{base}/triples/data").count()

    rid = ck.compact(spark, base, "triples", TRIPLES)
    assert _live_triples(spark, base) == before  # reader-visible snapshot unchanged
    raw = spark.read.parquet(f"{base}/triples/data")
    assert raw.count() < raw_before  # superseded + tombstoned rows physically gone
    assert {r.run_id for r in raw.select("run_id").distinct().collect()} == {rid}
    log = ck.read_checkpoint_log(spark, base, "triples")
    assert {r.run_id for r in log.select("run_id").distinct().collect()} == {rid}
    assert log.filter(F.col("content_sha") == ck.TOMBSTONE).count() == 0
    # incremental still works after compaction: rerunning the ORIGINAL
    # src reprocesses exactly m0.py (sha differs from the compacted
    # mutated version) and m1.py (tombstone dropped with its data)
    r = ck.run_incremental_stage(spark, src, "triples", base, _transform)
    assert not r.skipped and r.input_files == 2


@pytest.mark.parametrize("window", ["data_appended", "checkpoint_gc_done"])
def test_compact_crash_windows(spark, src, tmp_path, window):
    """A compact() that dies part-way leaves a stage every read answers
    as before, and the next compact() leaves one live run.  Windows:
    ``data_appended`` — the compacted data run landed, its checkpoint
    rows did not; ``checkpoint_gc_done`` — the GC deleted the old
    checkpoint files but not the old data runs.  Each crash state is
    rebuilt from a copy of the stage taken before the compaction."""
    import os
    import shutil

    base = str(tmp_path / "kg")
    stage, saved = f"{base}/triples", str(tmp_path / "saved")
    _fragmented_stage(spark, src, base)
    before = _live_triples(spark, base)
    shutil.copytree(stage, saved)
    rid = ck.compact(spark, base, "triples", TRIPLES)
    if window == "data_appended":  # the old stage + the compacted run's data
        shutil.copytree(f"{stage}/data/run_id={rid}", f"{saved}/data/run_id={rid}")
        shutil.rmtree(stage)
        shutil.copytree(saved, stage)
    else:  # the compacted stage + the old data runs
        for run in os.listdir(f"{saved}/data"):
            if run.startswith("run_id="):
                shutil.copytree(f"{saved}/data/{run}", f"{stage}/data/{run}")
    assert sum(d.startswith("run_id=") for d in os.listdir(f"{stage}/data")) > 1
    assert _live_triples(spark, base) == before

    rid2 = ck.compact(spark, base, "triples", TRIPLES)
    assert _live_triples(spark, base) == before
    raw = spark.read.parquet(f"{stage}/data")
    assert {r.run_id for r in raw.select("run_id").distinct().collect()} == {rid2}
    log = ck.read_checkpoint_log(spark, base, "triples")
    assert {r.run_id for r in log.select("run_id").distinct().collect()} == {rid2}


def _compact_writes(spark, monkeypatch, base, schema):
    """Compact the ``nodes`` stage; returns its run id and the paths it
    wrote parquet to."""
    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        written.append(path)
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", recording)
        rid = ck.compact(spark, base, "nodes", schema)
    return rid, written


def test_compact_snapshot_stage(spark, src, tmp_path, monkeypatch):
    """Compacting a snapshot stage rewrites nothing: it re-appends the
    live commit mark and deletes the superseded runs."""
    base = str(tmp_path / "kg")
    keys = src.select("repo", "path", "content_sha")
    fp, fp10 = ck.input_fingerprint(keys), ck.input_fingerprint(keys.limit(10))
    ck.run_snapshot_stage(spark, fp, "nodes", base, lambda: src.select("repo", "path"))
    # second snapshot with different input → supersedes the first
    live = ck.run_snapshot_stage(
        spark, fp10, "nodes", base, lambda: src.select("repo", "path").limit(10)
    )
    before = ck.read_snapshot(spark, base, "nodes", NODE_KEYS).count()
    raw_before = spark.read.parquet(f"{base}/nodes/data").count()
    assert raw_before > before  # old snapshot still on disk
    rid, written = _compact_writes(spark, monkeypatch, base, NODE_KEYS)
    assert written == [f"{base}/nodes/checkpoint"] and rid == live.run_id
    assert ck.read_snapshot(spark, base, "nodes", NODE_KEYS).count() == before
    assert spark.read.parquet(f"{base}/nodes/data").count() == before
    # fingerprint preserved → unchanged input still skips
    r = ck.run_snapshot_stage(
        spark, fp10, "nodes", base, lambda: src.select("repo", "path").limit(10)
    )
    assert r.skipped and r.run_id == rid


def test_run_ids_sortable_and_unique_within_second(spark):
    ids = [ck.new_run_id() for _ in range(200)]
    assert ids == sorted(ids), "run ids must sort in creation order (max_by(run_id) resolution)"
    assert len(set(ids)) == 200
    # new format supersedes old-format ids from the same second
    old_style = ids[0].split(".")[0] + "-deadbeef"
    assert ids[0] > old_style


def test_compact_partitioned_snapshot_stage(spark, src, tmp_path, monkeypatch):
    """compact keeps the live run's partition layout below run_id as it
    is, and a snapshot read opens that run's directory alone."""
    base = str(tmp_path / "kg")
    keys = src.select("repo", "path", "content_sha")

    def prod():
        return src.select(
            "repo", "path",
            F.when(F.col("path").endswith(".py"), "py").otherwise("other").alias("kind"),
        )

    ck.run_snapshot_stage(
        spark, ck.input_fingerprint(keys), "nodes", base, prod, partition_cols=["kind"]
    )
    live = ck.run_snapshot_stage(
        spark, ck.input_fingerprint(keys.limit(10)), "nodes", base, lambda: prod().limit(10),
        partition_cols=["kind"],
    )
    before = ck.read_snapshot(spark, base, "nodes", NODE_KINDS).count()
    rid, written = _compact_writes(spark, monkeypatch, base, NODE_KINDS)
    assert written == [f"{base}/nodes/checkpoint"] and rid == live.run_id

    read = []
    parquet = DataFrameReader.parquet

    def recording(self, *paths, **kwargs):
        read.extend(paths)
        return parquet(self, *paths, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", recording)
        after = ck.read_snapshot(spark, base, "nodes", NODE_KINDS)
    assert [p for p in read if p.startswith(f"{base}/nodes/data")] == [
        f"{base}/nodes/data/run_id={rid}"
    ]
    assert after.count() == before and "kind" in after.columns
    assert spark.read.parquet(f"{base}/nodes/data").count() == before
