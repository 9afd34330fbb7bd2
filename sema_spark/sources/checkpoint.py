"""Checkpointed incremental stage execution (SURVEY J1/S5/S7/S8).

Generalizes the reference's incremental indexing loop
(/root/reference/src/storage/mod.rs:30-52): per file, compare the stored
content hash; unchanged → skip, changed → supersede old output, new →
process.  The reference does this as N sequential point lookups; we do
ONE left-anti join against the current checkpoint.

Crash-safety contract (reference ordering, /root/reference/src/storage/mod.rs:59-67):
**data lands before its checkpoint row.**  We make that scale-safe with a
log-structured layout — every write is append-only, never a rewrite:

    <base>/<stage>/data/run_id=<rid>/*.parquet     (appends)
    <base>/<stage>/checkpoint/*.parquet            (appends)
    <base>/<stage>/lineage/*.parquet               (appends)

A data row is *visible* only if the current checkpoint references its
``(repo, path, content_sha, run_id)``.  Consequences:

* crash after data write but before checkpoint append → orphan rows are
  invisible; the rerun re-processes those files (re-process, never skip);
* a changed file gets a new checkpoint row from a later run which wins
  ``max_by(run_id)`` → old output rows become invisible (upsert S8);
* deletion (S7) is a tombstone checkpoint row, no data touched.

Every commit goes through ONE write tail (``_commit_increment``), four
Spark actions in this order:

1. the data write (the rows are persisted for the next action);
2. one collect of the per-partition row counts — the lineage rows,
   whose sum is the commit's row count (no separate count);
3. the lineage append (a zero-row commit has no lineage row and skips
   it);
4. one checkpoint append that carries the increment's per-file rows
   together with its params and tombstone rows, or a snapshot's single
   commit mark.

An increment over an empty file set that still has params or
tombstones to record commits them alone, in one standalone append.
Every driver-built frame — lineage rows, marker rows, the empty frame
of an absent path — is one Arrow batch (:func:`local_frame`): it plans
as a ``LocalTableScan``, so no Python worker unpickles its rows.

One read rule: every read of a stored table (the checkpoint log, the
lineage, a stage's data, a snapshot's run, compaction's input) is
``_read_or_empty(spark, path, schema)`` under the table's declared
schema.  A path that does not exist yet reads as the empty local frame
of that schema; a driver-side existence check decides it, so Spark
never sees the absent path.  Spark's optimizer folds a filter/sort/limit
collect or a join over that frame without running a job, so
:func:`latest_params` and ``_latest_commit`` of a stage with no log yet
answer ``None`` at no job cost.  The declared schema also makes a data
dir that mixes file generations read the same every time: a column an
older file lacks reads as null, and a column outside the schema is not
read.

A snapshot read opens only the directory of its committed run,
``data/run_id=<rid>``; other runs are never listed.  Compacting a
snapshot stage keeps that run as it is and deletes every other run and
log file (Iceberg's ``expire_snapshots``, not ``rewrite_data_files``).

This is Iceberg snapshot semantics hand-rolled over plain parquet; on a
cluster with an Iceberg catalog the same API maps onto MERGE INTO +
snapshot reads, but nothing here requires it.
"""

from __future__ import annotations

import itertools
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sema_spark.schemas import CHECKPOINT, LINEAGE

TOMBSTONE = "__DELETED__"
# marker repos in the checkpoint log (never real files): snapshot commit
# marks and per-stage params rows (the params a stage's stored rows were
# computed under — committed ATOMICALLY with the increment's checkpoint
# append, so a crash can never leave data claiming the wrong params)
COMMIT_MARK = "__SNAPSHOT__"
PARAMS_MARK = "__PARAMS__"


_RUN_COUNTER = itertools.count()


def new_run_id() -> str:
    """Sortable run id: UTC second prefix + nanosecond fraction +
    process-monotonic counter + entropy.

    last-writer-wins resolution is ``max_by(run_id)`` string order, so
    any two runs started in the same SECOND must still sort in creation
    order — a bare second-resolution timestamp left back-to-back
    increments randomly ordered (50% chance the older content won).
    The '.' after the seconds sorts above the old format's '-', so new
    ids always supersede old-format ids from the same second."""
    ns = time.time_ns()
    frac = ns % 1_000_000_000
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(ns // 1_000_000_000))
    return f"{stamp}.{frac:09d}-{next(_RUN_COUNTER):08d}-{uuid.uuid4().hex[:6]}"


def _ckpt_dir(base: str, stage: str) -> str:
    return f"{base}/{stage}/checkpoint"


def _data_dir(base: str, stage: str) -> str:
    return f"{base}/{stage}/data"


def _lineage_dir(base: str, stage: str) -> str:
    return f"{base}/{stage}/lineage"


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A driver-side frame of ``rows`` (tuples in ``schema`` field order)
    built from ONE Arrow batch.  It plans as a ``LocalTableScan``, which
    every action reads in the JVM; ``createDataFrame(<list>)`` plans as
    a scan over a ``PythonRDD`` instead, and Python workers unpickle its
    rows again on every action.  ``schema`` is kept exactly,
    nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """The one read of a stored table: ``path`` under its declared
    ``schema``, or the empty local frame of ``schema`` when the path is
    absent (nothing written there yet).  Absence is decided on the
    driver first (:func:`_exists`, no Spark job): handed an absent path,
    Spark logs a WARN with a full ``FileNotFoundException`` trace before
    it raises ``PATH_NOT_FOUND``, which still reads as absent when the
    path goes between the check and the read.  Every other error
    (corruption, permissions, transient storage errors) propagates:
    swallowing it would silently reprocess and re-append every file on
    the next incremental run."""
    from pyspark.errors import AnalysisException

    if _exists(spark, path):
        try:
            return spark.read.schema(schema).parquet(path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
    return local_frame(spark, [], schema)


def read_checkpoint_log(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return _read_or_empty(spark, _ckpt_dir(base, stage), _with_run_id(CHECKPOINT))


def current_checkpoint(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """Latest (content_sha, run_id) per file — last writer wins by sortable
    run_id.  One row per live file; tombstones excluded.

    Marker rows (snapshot commit marks, params rows) are not files and
    are excluded here; read them from :func:`read_checkpoint_log` /
    :func:`latest_params`.  Superseded versions stay readable through
    :func:`stage_rows_for_keys` until compaction.
    """
    log = read_checkpoint_log(spark, base, stage)
    latest = file_rows(log).groupBy(
        "stage", "repo", "path"
    ).agg(
        F.max_by(F.struct("content_sha", "run_id"), F.col("run_id")).alias("cur")
    )
    return latest.select(
        "stage", "repo", "path", F.col("cur.content_sha").alias("content_sha"), F.col("cur.run_id").alias("run_id")
    ).filter(F.col("content_sha") != TOMBSTONE)


def pending_files(src: DataFrame, ckpt_current: DataFrame) -> DataFrame:
    """J1: source rows not yet processed at their current content.

    left-anti on (repo, path, content_sha) — covers both brand-new files
    (no checkpoint row) and changed files (sha mismatch).  Unchanged
    files drop out, which is the reference's 'skip' branch
    (/root/reference/src/storage/mod.rs:40-41).
    """
    keys = ["repo", "path", "content_sha"]
    return src.join(ckpt_current.select(*keys), on=keys, how="left_anti")


@dataclass
class StageRun:
    stage: str
    run_id: str
    input_files: int
    output_rows: int
    skipped: bool
    # snapshot stages: the committed input fingerprint (stable across
    # compaction, unlike run_id) — downstream stages key their skip
    # fingerprints on this
    fingerprint: str | None = None


def run_incremental_stage(
    spark: SparkSession,
    src: DataFrame,
    stage: str,
    base: str,
    transform,
) -> StageRun:
    """Execute one checkpointed stage increment.

    ``src`` must carry (repo, path, content_sha) plus whatever
    ``transform`` needs; ``transform(pending_df)`` must return rows that
    keep (repo, path, content_sha), and is called only when some file is
    pending.  Write order: data → lineage → checkpoint (crash between any
    two is safe, see module docstring).
    """
    pending = pending_files(src, current_checkpoint(spark, base, stage))
    return _run_files(spark, base, stage, pending, lambda: transform(pending))


def file_rows(log: DataFrame) -> DataFrame:
    """The log restricted to REAL per-file rows — marker rows (snapshot
    commit marks, params rows) excluded.  The one place the marker
    predicate lives; every consumer filters through here so a future
    marker kind cannot silently leak into file-level logic."""
    return log.filter(~F.col("repo").isin(COMMIT_MARK, PARAMS_MARK))


def _mark_row(spark: SparkSession, stage: str, mark: str, value: str, run_id: str) -> DataFrame:
    """One marker row of the checkpoint log (snapshot commit or params)."""
    return local_frame(spark, [(stage, mark, mark, value, run_id)], _with_run_id(CHECKPOINT))


def _log_entry_rows(
    spark: SparkSession,
    stage: str,
    run_id: str,
    files: DataFrame | None = None,
    params: str | None = None,
    tombstone_paths: DataFrame | None = None,
) -> DataFrame | None:
    """The checkpoint rows of one commit: a row per (repo, path,
    content_sha) of ``files``, a tombstone per (repo, path) of
    ``tombstone_paths`` and the ``params`` marker — None when there are
    none."""
    parts = []
    if files is not None:
        parts.append(
            files.select(
                F.lit(stage).alias("stage"), "repo", "path", "content_sha", F.lit(run_id).alias("run_id")
            )
        )
    if tombstone_paths is not None:
        parts.append(
            tombstone_paths.select(
                F.lit(stage).alias("stage"),
                "repo",
                "path",
                F.lit(TOMBSTONE).alias("content_sha"),
                F.lit(run_id).alias("run_id"),
            )
        )
    if params is not None:
        parts.append(_mark_row(spark, stage, PARAMS_MARK, params, run_id))
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def run_forced_incremental_stage(
    spark: SparkSession,
    files: DataFrame,
    rows: DataFrame,
    stage: str,
    base: str,
    params: str | None = None,
    tombstone_paths: DataFrame | None = None,
) -> StageRun:
    """Commit an increment for an EXPLICIT file set — no anti-join: the
    caller decides which files to (re)process.  ``rows`` replace those
    files' previous output via the ordinary per-file supersede
    (``max_by(run_id)``), which works even when a file's content_sha is
    UNCHANGED — the lever behind a derived stage whose output for an
    untouched file can still change because a neighbor changed (stage
    2's delta maintenance re-links alias-delta-affected files).  Same
    write order and crash contract as :func:`run_incremental_stage`.

    ``params``: the parameter string the rows were computed under.
    ``tombstone_paths``: (repo, path) rows to mark deleted in the same
    commit.  BOTH ride the increment's own checkpoint append — params,
    tombstones, and the file rows become visible in one atomic-per-
    reader write, so no crash ordering can leave the log claiming the
    wrong parameters or (the r6 review's scenario) consume the
    state-diff a rerun needs to recover: tombstones appended SEPARATELY
    before a crashed commit would erase the ``gone`` diff while the
    re-link they travelled with never landed.  With an EMPTY file set
    (a pure-deletion run, a bare params refresh) no data is written and
    the params and tombstone rows commit alone, in one standalone
    append; the run reports ``skipped`` only when there was nothing at
    all to commit.  Read params back with :func:`latest_params`."""
    return _run_files(spark, base, stage, files, lambda: rows, params, tombstone_paths)


def _run_files(
    spark: SparkSession,
    base: str,
    stage: str,
    files: DataFrame,
    rows,
    params: str | None = None,
    tombstone_paths: DataFrame | None = None,
) -> StageRun:
    """The shared body of both increment kinds: count the file set,
    then commit ``rows()`` for it (``rows`` is called only for a
    non-empty set) with the params and tombstone rows in the same
    checkpoint append."""
    run_id = new_run_id()
    # The checkpoint keys of this increment (small: one row per file).
    # Persisted: unpersisted, the count here and the checkpoint append
    # would EACH re-evaluate the file set (for run_incremental_stage the
    # anti-join rescans and rehashes the full content) — and the
    # committed keys must come from the same evaluation the count saw.
    files = files.select("repo", "path", "content_sha").distinct().persist()
    try:
        n_files = files.count()
        entries = _log_entry_rows(
            spark, stage, run_id, files if n_files else None, params, tombstone_paths
        )
        if entries is None:
            return StageRun(stage, run_id, 0, 0, skipped=True)
        if n_files == 0:  # no data: the params and tombstones commit alone
            entries.write.mode("append").parquet(_ckpt_dir(base, stage))
            return StageRun(stage, run_id, 0, 0, skipped=False)
        n_rows = _commit_increment(spark, base, stage, rows(), entries, run_id)
    finally:
        files.unpersist()
    return StageRun(stage, run_id, n_files, n_rows, skipped=False)


def latest_params(spark: SparkSession, base: str, stage: str) -> str | None:
    """The params string of the stage's most recent committed increment
    (None when the stage has never committed one)."""
    rows = (
        read_checkpoint_log(spark, base, stage)
        .filter(F.col("repo") == PARAMS_MARK)
        .orderBy(F.desc("run_id"))
        .limit(1)
        .collect()
    )
    return rows[0].content_sha if rows else None


def _commit_increment(
    spark: SparkSession,
    base: str,
    stage: str,
    rows: DataFrame,
    ckpt_rows: DataFrame,
    run_id: str,
    partition_cols: list[str] | None = None,
) -> int:
    """The one write tail: data → lineage → checkpoint (commit LAST; see
    module docstring for the crash contract).  ``ckpt_rows`` are the
    checkpoint rows that make the data visible: an increment's per-file
    rows plus its params and tombstones, or a snapshot's commit mark.
    Returns the data row count: the sum of the lineage rows, so the
    write tail runs no separate count."""
    out = rows.withColumn("run_id", F.lit(run_id)).persist()
    try:
        out.write.mode("append").partitionBy("run_id", *(partition_cols or [])).parquet(
            _data_dir(base, stage)
        )
        # Per-partition lineage rows (A3 generalized; north rule).
        counts = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        n_rows = sum(r.rows for r in counts)
        if counts:
            local_frame(
                spark, [(stage, r.partition_id, r.rows, run_id) for r in counts], LINEAGE
            ).write.mode("append").parquet(_lineage_dir(base, stage))
        # Checkpoint LAST — only now do this run's rows become visible.
        ckpt_rows.write.mode("append").parquet(_ckpt_dir(base, stage))
    finally:
        out.unpersist()
    return n_rows


def read_stage_output(spark: SparkSession, base: str, stage: str, schema) -> DataFrame:
    """Current snapshot: data rows referenced by the live checkpoint, in
    the declared ``schema``'s column order (without run_id).

    left-semi on (repo, path, content_sha, run_id) — orphans from
    crashed runs and superseded rows from re-indexed files vanish here.
    The scan takes ``schema`` (see the module's read rule), so a stage
    whose every run produced zero rows, and wrote no parquet file, reads
    as an empty frame; a data dir that mixes file generations (e.g.
    edges written before they carried content_sha) reads the missing
    columns as null, and the liveness join drops those rows anyway.
    """
    data = _read_data(spark, base, stage, schema)
    ckpt = current_checkpoint(spark, base, stage)
    keys = ["repo", "path", "content_sha", "run_id"]
    return data.join(ckpt.select(*keys), on=keys, how="left_semi").select(*schema.names)


def _read_data(spark: SparkSession, base: str, stage: str, schema) -> DataFrame:
    """Every data row of the stage with its ``run_id``, read under the
    declared ``schema``."""
    return _read_or_empty(spark, _data_dir(base, stage), _with_run_id(schema))


def _with_run_id(schema):
    """Declared data schema + the run_id partition column."""
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType(list(schema.fields) + [StructField("run_id", StringType(), False)])


def stage_rows_for_keys(
    spark: SparkSession, base: str, stage: str, keys: DataFrame, schema
) -> DataFrame:
    """Data rows for an EXPLICIT (repo, path, content_sha) key set —
    including versions superseded in the live state: data and log are
    append-only until compaction, so any previously-LOGGED version
    remains readable (a crashed run's orphans were never logged and
    stay invisible; per key the latest logged run wins).  Callers that
    depend on historical versions must first check the log still has
    them (see :func:`logged_keys`) — compaction prunes superseded
    entries."""
    key_cols = ["repo", "path", "content_sha"]
    log = read_checkpoint_log(spark, base, stage).filter(F.col("content_sha") != TOMBSTONE)
    latest = (
        log.join(keys.select(*key_cols).distinct(), key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.max("run_id").alias("run_id"))
    )
    data = _read_data(spark, base, stage, schema)
    return data.join(latest, key_cols + ["run_id"], "left_semi").drop("run_id")


def logged_keys(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """Every (repo, path, content_sha) the stage's log has EVER recorded
    (tombstones excluded) — superset of the live state until compaction
    prunes history."""
    return (
        file_rows(read_checkpoint_log(spark, base, stage))
        .filter(F.col("content_sha") != TOMBSTONE)
        .select("repo", "path", "content_sha")
        .distinct()
    )


def delete_files(spark: SparkSession, base: str, stage: str, paths: DataFrame) -> None:
    """S7 delete-by-predicate as tombstone appends; no data rewrite.

    ``paths``: DataFrame with (repo, path).
    """
    _log_entry_rows(spark, stage, new_run_id(), tombstone_paths=paths).write.mode("append").parquet(
        _ckpt_dir(base, stage)
    )


# ---------------------------------------------------------------------------
# Snapshot stages (derived tables): the pipeline's stage 3 (canonical
# nodes) and stage 4 (edges).  Canonicalization is a global fixpoint, so
# one changed file can merge or split components anywhere, and every
# edge row carries canonical ids.  Each run writes a complete snapshot
# and commits it with the *input fingerprint*; an unchanged fingerprint
# skips the run entirely.  Stage 2 is 1:1 with the triples and is stored
# as per-file increments instead (plans/pipeline.py).


def input_fingerprint(keys: DataFrame) -> str:
    """Order-independent fingerprint of a (repo, path, content_sha) set.

    Distinct-ed here, not trusted from the caller: xor lets duplicate
    rows cancel (A⊕A⊕B == C⊕C⊕B), so a multiset input could fingerprint
    equal across genuinely different inputs and skip a stale snapshot."""
    row = (
        keys.select("repo", "path", "content_sha")
        .distinct()
        .select(
            F.count("*").alias("n"),
            # bit_xor not sum: order-independent and safe under ANSI overflow
            F.bit_xor(F.xxhash64("repo", "path", "content_sha")).alias("s"),
        )
        .collect()[0]
    )
    return f"{row.n}:{row.s}"


def fingerprint_rows(fp: str) -> int:
    """The distinct key count an :func:`input_fingerprint` carries."""
    return int(fp.split(":", 1)[0])


def _latest_commit(spark: SparkSession, base: str, stage: str):
    """The stage's latest snapshot commit mark row (None when it has none)."""
    log = read_checkpoint_log(spark, base, stage)
    rows = (
        log.filter(F.col("repo") == COMMIT_MARK)
        .orderBy(F.desc("run_id"))
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def run_snapshot_stage(
    spark: SparkSession,
    input_fp: str,
    stage: str,
    base: str,
    producer,
    partition_cols: list[str] | None = None,
) -> StageRun:
    """Full-snapshot stage with fingerprint skip + commit-last visibility.

    ``input_fp`` starts with an :func:`input_fingerprint` of the stage's
    input keys (the pipeline computes it once per run and shares it
    between stages 2 and 3; stage 4 joins the stage-2 and stage-3
    fingerprints); the run reports its key count as ``input_files``.
    ``producer()`` → the complete output DataFrame for this snapshot.
    Crash before the commit row → snapshot invisible, rerun regenerates.
    The output must depend on what ``input_fp`` names alone: the
    fingerprint is the whole skip key.
    """
    run_id = new_run_id()
    last = _latest_commit(spark, base, stage)
    if last is not None and last.content_sha == input_fp:
        return StageRun(stage, last.run_id, 0, 0, skipped=True, fingerprint=input_fp)
    n_rows = _commit_increment(
        spark, base, stage, producer(), _mark_row(spark, stage, COMMIT_MARK, input_fp, run_id), run_id,
        partition_cols,
    )
    return StageRun(
        stage, run_id, fingerprint_rows(input_fp), n_rows, skipped=False, fingerprint=input_fp
    )


def read_snapshot(spark: SparkSession, base: str, stage: str, schema) -> DataFrame:
    """Rows of the latest committed snapshot run, under the declared
    ``schema`` (a committed zero-row snapshot reads as an empty frame)."""
    last = _latest_commit(spark, base, stage)
    if last is None:
        raise FileNotFoundError(f"no committed snapshot for stage {stage!r} under {base}")
    return read_snapshot_run(spark, base, stage, last.run_id, schema)


def read_snapshot_run(spark: SparkSession, base: str, stage: str, run_id: str, schema) -> DataFrame:
    """Rows of the snapshot committed as ``run_id`` (e.g. the run id a
    :func:`run_snapshot_stage` call returned): a read of that run's own
    directory under the declared ``schema``.  Partition columns below
    run_id come last.  A zero-row snapshot wrote no directory and reads
    as an empty frame."""
    return _read_or_empty(spark, f"{_data_dir(base, stage)}/run_id={run_id}", schema)


def read_lineage(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return _read_or_empty(spark, _lineage_dir(base, stage), LINEAGE)


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return fs.exists(hpath(path))


def _list_children(spark: SparkSession, path: str) -> list[str]:
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath(path)):
        return []
    return [s.getPath().toString() for s in fs.listStatus(hpath(path))]


def compact(spark: SparkSession, base: str, stage: str, schema) -> str:
    """Maintenance: leave the stage's live rows in ONE run and garbage-
    collect everything older, in the log's own append-then-GC terms.
    ``schema`` is the stage's declared data schema (without run_id).
    Returns the live run id.

    The stage's kind is that of its LATEST log row.  A stage whose
    storage kind changed keeps rows of the old kind in its log (stage
    2's pre-r6 snapshot mark, stage 4's per-file rows from before it
    became a snapshot); trusting those would keep the stale rows and
    garbage-collect the live ones.

    * Snapshot stage (the latest row is a commit mark): the live rows
      already sit in one run, so nothing is read or rewritten.  The
      commit mark is re-appended with the same run id and fingerprint
      (an unchanged input still skips), then every older log file and
      every other run dir is deleted: Iceberg's ``expire_snapshots``.
    * Incremental stage: the live rows, read under ``schema``, are
      rewritten into one new run, and one checkpoint append references
      it for every live file, with the latest params row.  Tombstoned
      files get no new row: a surviving old tombstone still reads as
      deleted, and a GC'd one leaves the file with no row at all.

    Crash-safe AT EVERY POINT under the read rules, with no directory
    swap and no window where the checkpoint is absent: (1) the data
    append (incremental stages only) is invisible until referenced;
    (2) the checkpoint append makes the live run current; (3) the GC
    deletes what existed before (2), log files first and data dirs
    second, so a crash mid-GC leaves a harmless data orphan rather than
    log rows whose data is gone (the delta path's trust check,
    ``logged_keys`` ⊇ gone, would accept those rows while
    :func:`stage_rows_for_keys` returns nothing).

    SINGLE-WRITER maintenance op: crash-safe against itself, but do not
    run it concurrently with ingest into the same stage — a writer whose
    data landed before compact's GC listing but whose checkpoint row
    landed after step (2) would have its data collected while its
    checkpoint row survives (the optimistic-commit protection a real
    catalog provides is exactly what plain directories lack).

    READERS need exclusion too: a reader still scanning a run that step
    (3) deletes fails mid-scan (FileNotFound).  The GC is immediate,
    with no grace period, so schedule compact() in a maintenance window
    with no concurrent reads, or read through ``materialize``/collected
    results rather than live scans."""
    latest = read_checkpoint_log(spark, base, stage).orderBy(F.desc("run_id")).limit(1).collect()
    old_ckpt = _list_children(spark, _ckpt_dir(base, stage))
    if latest and latest[0].repo == COMMIT_MARK:  # snapshot stage
        rid = latest[0].run_id
        ckpt_new = _mark_row(spark, stage, COMMIT_MARK, latest[0].content_sha, rid)
    else:  # incremental stage: keep rows referenced by the live checkpoint
        rid = new_run_id()
        ckpt = current_checkpoint(spark, base, stage)
        jk = ["repo", "path", "content_sha", "run_id"]
        live = _read_data(spark, base, stage, schema).join(ckpt.select(*jk), on=jk, how="left_semi")
        # (1) data append: the read of the old state completes while writing
        live.withColumn("run_id", F.lit(rid)).write.mode("append").partitionBy("run_id").parquet(
            _data_dir(base, stage)
        )
        # the params marker must survive compaction or the next
        # maintenance run would needlessly distrust the stored rows
        ckpt_new = _log_entry_rows(spark, stage, rid, ckpt, latest_params(spark, base, stage))
    old_data = [
        p
        for p in _list_children(spark, _data_dir(base, stage))
        if p.rsplit("/", 1)[-1] != f"run_id={rid}"
    ]
    # (2) checkpoint append: the live run becomes the only referenced one
    ckpt_new.write.mode("append").parquet(_ckpt_dir(base, stage))
    # (3) GC what existed before (2): log files first, data dirs second
    fs, hpath = _fs(spark, base)
    for p in old_ckpt + old_data:
        fs.delete(hpath(p), True)
    return rid
